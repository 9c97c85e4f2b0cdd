"""Checkpoint manifest: per-partition lineage + metrics, idempotent resume.

Reference analog: the LevelDB history store (`lib/Gtfsrt2LC.js:667-751`) —
state that makes a re-run over the same input emit nothing new (the
reference's own test: second run yields exactly 0 connections,
`test/gtfsrt2lc.test.js:156`).

Design: pages are bucketed by ``pmod(xxhash64(url), n_buckets)``. One run
processes only buckets absent from the manifest, writes their triples as
one new generation partitioned by ``part_id``, and records one manifest row
per finished bucket:

  (part_id, n_docs, n_triples, input_fingerprint, run_id, wall_ms, status)

Layout:

.. code-block:: text

    <out_dir>/triples/gen-<seq>/part_id=<p>/  # parquet, one generation per commit
    <out_dir>/_manifest/manifest-<seq>.json
        # {"seq": N, "generations": [oldest, ..., newest],
        #  "parts": [{<one row per done bucket>}, ...]}

The manifest is driver-side JSON holding at most ``n_buckets`` rows, so
reading and writing it runs no Spark job; a resume over a complete store
runs none at all. The commit is ``hadoop_fs.commit_generations``, the one
``HistoryStore`` uses: a run writes its triples FIRST, with
``mode("overwrite")``, as ``gen-<seq+1>``, then commits
``manifest-<seq+1>.json`` naming the previous generations plus its own,
which vacuums every other generation dir and manifest. Readers read only
the generations the live manifest names, so a store that has never
committed reads as empty.

Resume = skip the done buckets. A run that crashed before its manifest
leaves its buckets unrecorded and its generation unnamed: readers ignore
it, and its rerun overwrites it under the same name (a stray one is
vacuumed at the next commit). Each commit marks at least one new bucket
done, so a store holds at most ``n_buckets`` generations and needs no
compaction. An absent manifest is an empty one. An unreadable manifest, or
a retired layout (a parquet ``_manifest``, or a manifest without
``generations`` over ``triples/part_id=<p>/``), raises ``ValueError``:
treating it as empty would re-run every bucket. There is no migration;
delete the store to rebuild it.
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
_MANIFEST_FIELDS = [c.split()[0] for c in MANIFEST_SCHEMA.split(",")]
# the columns a triple store's parquet holds besides its part_id directories
TRIPLE_SCHEMA = "subj string, pred string, obj string, graph string"


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _triples_path(out_dir: str) -> str:
    return os.path.join(out_dir, "triples")


def _live_manifest(
    spark: SparkSession, out_dir: str
) -> tuple[int, list[str], list[dict]]:
    """(seq, generations, rows) of the live manifest; (0, [], []) when the
    store has none. Raises ``ValueError`` on a manifest that is not ours."""
    path = _manifest_path(out_dir)
    live = hadoop_fs.read_live_manifest(spark, path)
    if live is None:
        # a crashed first commit leaves only manifest-*.tmp (and hidden
        # checksum files); anything else is the retired parquet layout
        if any(
            not n.startswith(("manifest-", "."))
            for n in hadoop_fs.list_files(spark, path)
        ):
            raise ValueError(
                f"triple store {out_dir}: {path} is in the retired parquet "
                "manifest layout. It is not read as empty, because that would "
                "re-run every bucket; delete the store to rebuild it."
            )
        return 0, [], []
    seq, m = live
    gens = m.get("generations") if isinstance(m, dict) else None
    rows = m.get("parts") if isinstance(m, dict) else None
    if not (
        isinstance(gens, list)
        and all(isinstance(g, str) for g in gens)
        and isinstance(rows, list)
        and all(isinstance(r, dict) and sorted(r) == sorted(_MANIFEST_FIELDS) for r in rows)
    ):
        raise ValueError(
            f"triple store {out_dir}: {hadoop_fs.manifest_name(seq)} is not a "
            "triple-store manifest (a JSON object with 'generations' names "
            "and 'parts' rows of the MANIFEST_SCHEMA fields); delete the "
            "store to rebuild it"
        )
    return seq, gens, rows


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The live manifest's rows as a local frame. An absent manifest is an
    empty one; an unreadable or old-layout one raises ``ValueError``."""
    _, _, rows = _live_manifest(spark, out_dir)
    return spark.createDataFrame(
        [tuple(r[f] for f in _MANIFEST_FIELDS) for r in rows], MANIFEST_SCHEMA
    )


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Global triple view over the generations the live manifest names,
    deduplicated across buckets at read time. A store that has never
    committed reads as empty; one in a retired layout raises ``ValueError``."""
    _, gens, _ = _live_manifest(spark, out_dir)
    # several roots with part_id dirs below each fail partition discovery
    # ("Conflicting directory structures"), and part_id is not read, so the
    # files are listed without it; no generation reads as an empty frame
    t = (
        spark.read.schema(TRIPLE_SCHEMA)
        .option("recursiveFileLookup", True)
        .parquet(*[f"{_triples_path(out_dir)}/{g}" for g in gens])
    )
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
    seq, gens, rows = _live_manifest(spark, out_dir)
    done = {r["part_id"] for r in rows if r["status"] == "done"}
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
        # a crashed run left its generation under this same name; static
        # overwrite replaces the whole dir, not only the buckets written now
        gen = f"gen-{seq + 1:06d}"
        triples.write.mode("overwrite").option(
            "partitionOverwriteMode", "static"
        ).partitionBy("part_id").parquet(f"{_triples_path(out_dir)}/{gen}")
        wall_ms = int((time.monotonic() - t0) * 1000)
    finally:
        pipeline.cleanup()  # drop stage-checkpoint scratch dirs
        if owns_scratch:
            # released on failure too: a retry would otherwise take the
            # stale dir for a caller-owned one and never delete it
            hadoop_fs.delete(spark, pipeline.scratch_dir)
            pipeline.scratch_dir = None

    got = obs.get
    new_rows = [
        {
            "part_id": r["part_id"],
            "n_docs": r["n_docs"],
            "n_triples": int(got[f"p_{r['part_id']}"] or 0),
            "input_fingerprint": r["input_fingerprint"],
            "run_id": run_id,
            "wall_ms": wall_ms,
            "status": "done",
        }
        for r in part_stats
    ]
    hadoop_fs.commit_generations(
        spark,
        _manifest_path(out_dir),
        _triples_path(out_dir),
        seq + 1,
        {
            "generations": gens + [gen],
            "parts": [r for r in rows if r["part_id"] not in todo_parts] + new_rows,
        },
    )
    return {
        "parts": len(new_rows),
        "n_docs": sum(r["n_docs"] for r in new_rows),
        "n_triples": sum(r["n_triples"] for r in new_rows),
        "wall_ms": wall_ms,
    }
