"""Checkpoint manifest: per-partition lineage + metrics, idempotent resume.

Reference analog: the LevelDB history store (`lib/Gtfsrt2LC.js:667-751`) —
state that makes a re-run over the same input emit nothing new (the
reference's own test: second run yields exactly 0 connections,
`test/gtfsrt2lc.test.js:156`).

Design: pages are bucketed by ``pmod(xxhash64(url), n_buckets)``. One run
processes only buckets absent from the manifest, appends triples
partitioned by ``part_id``, and appends one manifest row per finished bucket:

  (part_id, n_docs, n_triples, input_fingerprint, run_id, wall_ms, status)

Resume = anti-join pending buckets; a crashed run leaves at most its
in-flight buckets unrecorded, which simply re-run next time (idempotent:
triples are deduped per (part, s, p, o) and readers dedup across parts).
At 10^12 docs the manifest stays tiny (one row per bucket), the anti-join is
a broadcast, and bucket counts bound retry granularity.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "part_id int, n_docs long, n_triples long, input_fingerprint long, "
    "run_id string, wall_ms long, status string"
)


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _triples_path(out_dir: str) -> str:
    return os.path.join(out_dir, "triples")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    path = _manifest_path(out_dir)
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(path)
    except Exception:
        return spark.createDataFrame([], MANIFEST_SCHEMA)


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Global triple view: cross-partition dedup at read time."""
    t = spark.read.parquet(_triples_path(out_dir))
    return t.groupBy("subj", "pred", "obj").agg(F.min("graph").alias("graph"))


def run_incremental(
    spark: SparkSession,
    pages: DataFrame,
    pipeline,
    out_dir: str,
    n_buckets: int = 16,
    run_id: str = "run",
) -> dict:
    """Process all not-yet-done buckets; return metrics dict.

    Second invocation over the same pages is a no-op (0 new triples).

    Stage-checkpoint scratch: if the pipeline exposes ``scratch_dir`` and the
    caller did not set one, this run scopes it under
    ``<out_dir>/_stage/<run_id>-<uuid>`` — the same (shared) filesystem the
    triples land on, so executor-written stage parquet is readable
    cluster-wide — and deletes it after the pipeline's own cleanup().
    """
    import uuid

    t0 = time.monotonic()
    owns_scratch = hasattr(pipeline, "scratch_dir") and pipeline.scratch_dir is None
    if owns_scratch:
        pipeline.scratch_dir = (
            f"{out_dir.rstrip('/')}/_stage/{run_id}-{uuid.uuid4().hex[:8]}"
        )
        # Exception safety for the owned scratch: a failed run must not leave
        # pipeline.scratch_dir set (a retry would treat the stale dir as
        # caller-owned and never delete the failed run's _stage parquet).
        try:
            return _run_incremental_body(
                spark, pages, pipeline, out_dir, n_buckets, run_id, t0, owns_scratch
            )
        except BaseException:
            try:
                if hasattr(pipeline, "cleanup"):
                    pipeline.cleanup()
            except Exception:
                pass
            try:
                from gtfsrt2lc_spark.functions import hadoop_fs

                hadoop_fs.delete(spark, pipeline.scratch_dir)
            except Exception:
                pass
            pipeline.scratch_dir = None
            raise
    return _run_incremental_body(
        spark, pages, pipeline, out_dir, n_buckets, run_id, t0, owns_scratch
    )


def _run_incremental_body(
    spark: SparkSession,
    pages: DataFrame,
    pipeline,
    out_dir: str,
    n_buckets: int,
    run_id: str,
    t0: float,
    owns_scratch: bool,
) -> dict:
    # Bucket by the pipeline's document-identity key (canonical url when
    # KGPipeline(canonical_urls=True)), NOT the raw spelling: latest-wins
    # dedup runs per bucket, so all spellings of one document must
    # co-locate or a stale snapshot wins its own bucket and leaks.
    key = pipeline.page_key() if hasattr(pipeline, "page_key") else F.col("url")
    bucketed = pages.withColumn(
        "part_id", F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
    )
    done = read_manifest(spark, out_dir).where(F.col("status") == "done").select("part_id")
    todo = bucketed.join(F.broadcast(done), "part_id", "left_anti")

    # n_docs counts page rows (re-crawl snapshots included) — a plain
    # map-side-combinable count; an exact distinct-url count would add a
    # full extra shuffle to every run for metrics-only value
    part_stats = (
        todo.groupBy("part_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.bit_xor(F.xxhash64("url", "warc_ts")).alias("input_fingerprint"),
        )
    ).cache()
    docs = part_stats.select("part_id", "n_docs").collect()
    todo_parts = [r["part_id"] for r in docs]
    if not todo_parts:
        part_stats.unpersist()
        if owns_scratch:
            pipeline.scratch_dir = None
        return {"parts": 0, "n_docs": 0, "n_triples": 0, "wall_ms": 0}

    # Per-part triple counts observed ON the write (one aggregate expression
    # per in-flight bucket — bounded by n_buckets) instead of re-reading all
    # written triples afterwards: one fewer scan job per run, and no extra
    # I/O at 100 TB. Metrics-only values, so observe's task-retry caveat is
    # acceptable here.
    from pyspark.sql import Observation

    obs = Observation()
    # Cluster by part_id before the dynamic-partition write: without it every
    # reduce task holds rows of ALL in-flight buckets and the write fans out
    # to shuffle_partitions x n_buckets small files (measured 4-5 s of
    # file-commit churn that GROWS with core count — anti-scaling); one
    # narrow shuffle of the already-deduped triples lands one file per
    # bucket instead, aligned with the manifest's retry granularity.
    triples = (
        pipeline.triples(todo, with_part=True)
        .repartition("part_id")
        .observe(
            obs,
            *[
                F.sum((F.col("part_id") == p).cast("long")).alias(f"p_{p}")
                for p in todo_parts
            ],
        )
    )
    triples.write.mode("append").partitionBy("part_id").parquet(_triples_path(out_dir))

    got = obs.get
    tri_counts = [(p, int(got[f"p_{p}"] or 0)) for p in todo_parts]
    tri_stats = spark.createDataFrame(tri_counts, "part_id int, n_triples long")
    wall_ms = int((time.monotonic() - t0) * 1000)
    manifest_rows = (
        part_stats.join(tri_stats, "part_id", "left")
        .select(
            "part_id",
            "n_docs",
            F.coalesce("n_triples", F.lit(0)).alias("n_triples"),
            "input_fingerprint",
            F.lit(run_id).alias("run_id"),
            F.lit(wall_ms).alias("wall_ms"),
            F.lit("done").alias("status"),
        )
    )
    manifest_rows.write.mode("append").parquet(_manifest_path(out_dir))
    part_stats.unpersist()
    if hasattr(pipeline, "cleanup"):
        pipeline.cleanup()  # drop stage-checkpoint scratch dirs
    if owns_scratch:
        from gtfsrt2lc_spark.functions import hadoop_fs

        hadoop_fs.delete(spark, pipeline.scratch_dir)
        pipeline.scratch_dir = None
    return {
        "parts": len(todo_parts),
        "n_docs": sum(r["n_docs"] for r in docs),
        "n_triples": sum(n for _, n in tri_counts),
        "wall_ms": wall_ms,
    }
