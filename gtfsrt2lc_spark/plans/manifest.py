"""Checkpoint manifest: per-partition lineage + metrics, idempotent resume.

Reference analog: the LevelDB history store (`lib/Gtfsrt2LC.js:667-751`) —
state that makes a re-run over the same input emit nothing new (the
reference's own test: second run yields exactly 0 connections,
`test/gtfsrt2lc.test.js:156`).

Design: pages are bucketed by ``pmod(xxhash64(url), n_buckets)``. One run
processes only buckets absent from the manifest, appends triples
partitioned by ``part_id``, and appends one manifest row per finished bucket:

  (part_id, n_docs, n_triples, input_fingerprint, run_id, wall_ms, status)

Resume = skip the done buckets; a crashed run leaves at most its
in-flight buckets unrecorded, which simply re-run next time (idempotent:
triples are deduped per (part, s, p, o) and readers dedup across parts).
At 10^12 docs the manifest stays tiny (one row per bucket): the driver
collects the done bucket ids and filters the pages with ``isin``, builds
the new manifest rows itself and appends them as one local relation, and
bucket counts bound retry granularity. An absent manifest is an empty
one; a manifest that exists but cannot be read raises, because treating
it as empty would silently re-run every bucket.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gtfsrt2lc_spark.functions import hadoop_fs

if TYPE_CHECKING:
    from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline

MANIFEST_SCHEMA = (
    "part_id int, n_docs long, n_triples long, input_fingerprint long, "
    "run_id string, wall_ms long, status string"
)
# the columns a triple store's parquet holds besides its part_id directories
TRIPLE_SCHEMA = "subj string, pred string, obj string, graph string"


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _triples_path(out_dir: str) -> str:
    return os.path.join(out_dir, "triples")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The manifest rows. An absent manifest is an empty one; any other
    read failure raises (when the frame is evaluated)."""
    path = _manifest_path(out_dir)
    if not hadoop_fs.exists(spark, path):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Global triple view: cross-partition dedup at read time."""
    t = spark.read.schema(TRIPLE_SCHEMA).parquet(_triples_path(out_dir))
    return t.groupBy("subj", "pred", "obj").agg(F.min("graph").alias("graph"))


def run_incremental(
    spark: SparkSession,
    pages: DataFrame,
    pipeline: KGPipeline,
    out_dir: str,
    n_buckets: int = 16,
    run_id: str = "run",
) -> dict:
    """Process all not-yet-done buckets; return metrics dict.

    Second invocation over the same pages is a no-op (0 new triples).

    Stage-checkpoint scratch: if the caller did not set the pipeline's
    ``scratch_dir``, this run scopes it under
    ``<out_dir>/_stage/<run_id>-<uuid>`` — the same (shared) filesystem the
    triples land on, so executor-written stage parquet is readable
    cluster-wide — and deletes it after the pipeline's own cleanup(),
    whether or not the run finished.
    """
    t0 = time.monotonic()
    # Bucket by the pipeline's document-identity key (canonical url when
    # KGPipeline(canonical_urls=True)), NOT the raw spelling: latest-wins
    # dedup runs per bucket, so all spellings of one document must
    # co-locate or a stale snapshot wins its own bucket and leaks.
    bucketed = pages.withColumn(
        "part_id", F.pmod(F.xxhash64(pipeline.page_key()), F.lit(n_buckets)).cast("int")
    )
    done = set()
    if hadoop_fs.exists(spark, _manifest_path(out_dir)):
        done = {
            r["part_id"]
            for r in read_manifest(spark, out_dir)
            .where(F.col("status") == "done")
            .select("part_id")
            .collect()
        }
    todo = bucketed.where(~F.col("part_id").isin(sorted(done))) if done else bucketed

    # n_docs counts page rows (re-crawl snapshots included) — a plain
    # map-side-combinable count; an exact distinct-url count would add a
    # full extra shuffle to every run for metrics-only value. At most
    # n_buckets rows reach the driver, and a store whose every bucket is
    # done has nothing to scan.
    part_stats = (
        []
        if done >= set(range(n_buckets))
        else todo.groupBy("part_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.bit_xor(F.xxhash64("url", "warc_ts")).alias("input_fingerprint"),
        )
        .collect()
    )
    if not part_stats:
        return {"parts": 0, "n_docs": 0, "n_triples": 0, "wall_ms": 0}
    todo_parts = [r["part_id"] for r in part_stats]
    owns_scratch = pipeline.scratch_dir is None
    if owns_scratch:
        pipeline.scratch_dir = (
            f"{out_dir.rstrip('/')}/_stage/{run_id}-{uuid.uuid4().hex[:8]}"
        )
    try:
        # Per-part triple counts observed ON the write (one aggregate
        # expression per in-flight bucket — bounded by n_buckets) instead of
        # re-reading all written triples afterwards: one fewer scan job per
        # run, and no extra I/O at 100 TB. Metrics-only values, so observe's
        # task-retry caveat is acceptable here.
        obs = Observation()
        # triples(with_part=True) comes clustered by part_id, so the
        # dynamic-partition write lands one file per bucket, aligned with
        # the manifest's retry granularity, instead of shuffle_partitions x
        # n_buckets small files (file-commit churn that grew with core
        # count).
        triples = pipeline.triples(todo, with_part=True).observe(
            obs,
            *[
                F.sum((F.col("part_id") == p).cast("long")).alias(f"p_{p}")
                for p in todo_parts
            ],
        )
        triples.write.mode("append").partitionBy("part_id").parquet(
            _triples_path(out_dir)
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
    finally:
        pipeline.cleanup()  # drop stage-checkpoint scratch dirs
        if owns_scratch:
            # released on failure too: a retry would otherwise take the
            # stale dir for a caller-owned one and never delete it
            hadoop_fs.delete(spark, pipeline.scratch_dir)
            pipeline.scratch_dir = None

    got = obs.get
    manifest_rows = [
        (
            r["part_id"],
            r["n_docs"],
            int(got[f"p_{r['part_id']}"] or 0),
            r["input_fingerprint"],
            run_id,
            wall_ms,
            "done",
        )
        for r in part_stats
    ]
    spark.createDataFrame(manifest_rows, MANIFEST_SCHEMA).write.mode("append").parquet(
        _manifest_path(out_dir)
    )
    return {
        "parts": len(manifest_rows),
        "n_docs": sum(r[1] for r in manifest_rows),
        "n_triples": sum(r[2] for r in manifest_rows),
        "wall_ms": wall_ms,
    }
