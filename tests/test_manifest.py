"""Checkpoint manifest: idempotent resume (ref test mirror:
`test/gtfsrt2lc.test.js:117-159` — second run over same input emits 0)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gtfsrt2lc_spark.fixtures.pages import PREDICATES
from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline
from gtfsrt2lc_spark.plans.manifest import read_manifest, read_triples, run_incremental


@pytest.fixture(scope="module")
def pipeline(corpus_dfs):
    pages, records, surfaces, sameas = corpus_dfs
    preds = {phrase: local for phrase, (local, _, _) in PREDICATES.items()}
    return KGPipeline(records, surfaces, sameas, preds)


def test_idempotent_rerun(spark, corpus_dfs, pipeline, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_out"))
    pages = corpus_dfs[0]
    # a store that has never committed reads as empty
    assert read_triples(spark, out).count() == 0

    m1 = run_incremental(spark, pages, pipeline, out, n_buckets=8, run_id="r1")
    assert m1["parts"] == 8
    assert m1["n_triples"] > 0
    # the returned totals are the ones the manifest recorded
    totals = read_manifest(spark, out).agg(F.sum("n_docs"), F.sum("n_triples")).first()
    assert (m1["n_docs"], m1["n_triples"]) == tuple(totals)
    assert m1["n_docs"] == pages.count()

    # full golden parity through the manifest path too
    got = {
        (r["subj"], r["pred"], r["obj"]) for r in read_triples(spark, out).collect()
    }
    assert got == corpus.golden_triples

    # second run: everything checkpointed -> no new work, no new triples
    m2 = run_incremental(spark, pages, pipeline, out, n_buckets=8, run_id="r2")
    assert m2 == {"parts": 0, "n_docs": 0, "n_triples": 0, "wall_ms": 0}


def test_partial_failure_resume(spark, corpus_dfs, pipeline, corpus, tmp_path_factory):
    """Crash-after-half simulation: run over a subset of buckets, then the
    full input — only pending buckets process, and the union is complete."""
    out = str(tmp_path_factory.mktemp("kg_out_partial"))
    pages = corpus_dfs[0]
    half = pages.where(F.pmod(F.xxhash64("url"), F.lit(8)).cast("int") < 4)

    m1 = run_incremental(spark, half, pipeline, out, n_buckets=8, run_id="r1")
    assert m1["parts"] == 4

    m2 = run_incremental(spark, pages, pipeline, out, n_buckets=8, run_id="r2")
    assert m2["parts"] == 4  # only the missing half

    got = {
        (r["subj"], r["pred"], r["obj"]) for r in read_triples(spark, out).collect()
    }
    assert got == corpus.golden_triples

    mf = read_manifest(spark, out)
    assert mf.count() == 8
    assert mf.where(F.col("status") == "done").count() == 8
    # lineage: per-partition metrics recorded (n_docs counts page rows,
    # re-crawl snapshots included)
    row = mf.agg(F.sum("n_docs").alias("d")).collect()[0]
    assert row["d"] == pages.count()


def test_scratch_dir_scoped_under_out_dir(spark, corpus_dfs, corpus, tmp_path_factory):
    """Stage checkpoints must land on the (shared) out_dir filesystem, not a
    driver-local tmp dir — the multi-node correctness posture — and be gone
    after the run."""
    import glob
    import os
    import tempfile

    out = str(tmp_path_factory.mktemp("kg_out_scratch"))
    pages, records, surfaces, sameas = corpus_dfs
    preds = {phrase: local for phrase, (local, _, _) in PREDICATES.items()}
    pipe = KGPipeline(records, surfaces, sameas, preds)

    before_tmp = set(glob.glob(os.path.join(tempfile.gettempdir(), "kgstage_*")))
    m = run_incremental(spark, pages, pipe, out, n_buckets=4, run_id="rs")
    assert m["parts"] == 4

    # no driver-local fallback dirs were created ...
    after_tmp = set(glob.glob(os.path.join(tempfile.gettempdir(), "kgstage_*")))
    assert after_tmp == before_tmp
    # ... the out_dir-scoped scratch was used and is fully cleaned up ...
    assert not os.path.exists(os.path.join(out, "_stage")) or not os.listdir(
        os.path.join(out, "_stage")
    )
    # ... and the pipeline is reusable (scratch ownership released)
    assert pipe.scratch_dir is None


def test_explicit_scratch_dir_used_and_cleaned(spark, corpus_dfs, corpus, tmp_path):
    """A caller-provided scratch_dir receives the stage parquet and cleanup()
    removes the stages but leaves the caller's root alone."""
    import os

    pages, records, surfaces, sameas = corpus_dfs
    preds = {phrase: local for phrase, (local, _, _) in PREDICATES.items()}
    scratch = str(tmp_path / "scratch")
    pipe = KGPipeline(records, surfaces, sameas, preds, scratch_dir=scratch)

    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in pipe.triples(pages).collect()
    }
    assert got == corpus.golden_triples
    stages = os.listdir(scratch)
    assert stages and all(s.startswith("stage-") for s in stages)

    pipe.cleanup()
    assert os.listdir(scratch) == []


_NO_CLEANUP_RUN = """
import gc
from gtfsrt2lc_spark import get_spark
from gtfsrt2lc_spark.fixtures.pages import PREDICATES, build_corpus, corpus_dataframes
from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline

spark = get_spark(master="local[2]", shuffle_partitions=2)
pages, records, surfaces, sameas = corpus_dataframes(spark, build_corpus(n_pages=20))
pipe = KGPipeline(records, surfaces, sameas,
                  {ph: loc for ph, (loc, _, _) in PREDICATES.items()})
tri = pipe.triples(pages)
n1 = tri.count()
del pipe
gc.collect()
print("COUNTS", n1, tri.count())
"""


def test_stage_dirs_removed_at_exit_without_cleanup(tmp_path):
    """A pipeline dropped without cleanup() leaves no kgstage_* dir once
    its process exits, and the frame it returned still reads its stages
    after the pipeline object is gone."""
    import glob
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run([sys.executable, "-c", _NO_CLEANUP_RUN], env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    counts = next(ln for ln in proc.stdout.splitlines() if ln.startswith("COUNTS"))
    n1, n2 = map(int, counts.split()[1:])
    assert n1 > 0 and n2 == n1
    assert glob.glob(os.path.join(str(tmp_path), "kgstage_*")) == []


def test_failed_run_releases_scratch_ownership(spark, corpus_dfs, tmp_path_factory):
    """A run that fails mid-pipeline must delete its owned _stage scratch and
    reset pipeline.scratch_dir, so a retry re-acquires a fresh scratch instead
    of treating the stale one as caller-owned (and leaking it forever)."""
    import os

    out = str(tmp_path_factory.mktemp("kg_out_fail"))
    pages, records, surfaces, sameas = corpus_dfs
    preds = {phrase: local for phrase, (local, _, _) in PREDICATES.items()}
    pipe = KGPipeline(records, surfaces, sameas, preds)

    boom = RuntimeError("mid-run failure")
    real_triples = pipe.triples

    def failing_triples(pages_df, with_part=False):
        # fail AFTER the stage checkpoint has been written to scratch
        df = real_triples(pages_df, with_part=with_part)
        raise boom

    pipe.triples = failing_triples
    with pytest.raises(RuntimeError, match="mid-run failure"):
        run_incremental(spark, pages, pipe, out, n_buckets=4, run_id="rx")

    assert pipe.scratch_dir is None  # ownership released
    stage_root = os.path.join(out, "_stage")
    leftovers = os.listdir(stage_root) if os.path.exists(stage_root) else []
    assert leftovers == []  # failed run's stage parquet deleted

    # the retry works end-to-end with the same pipeline object
    pipe.triples = real_triples
    m = run_incremental(spark, pages, pipe, out, n_buckets=4, run_id="retry")
    assert m["parts"] == 4
    assert pipe.scratch_dir is None


def test_triple_write_one_file_per_bucket(spark, corpus_dfs, tmp_path_factory):
    """Regression guard for the anti-scaling write: the dynamic-partition
    triple write must land O(1) files per bucket dir, not
    shuffle_partitions x buckets (file-commit churn that grew with core
    count)."""
    import os

    out = str(tmp_path_factory.mktemp("kg_out_files"))
    pages, records, surfaces, sameas = corpus_dfs
    preds = {phrase: local for phrase, (local, _, _) in PREDICATES.items()}
    pipe = KGPipeline(records, surfaces, sameas, preds)
    run_incremental(spark, pages, pipe, out, n_buckets=8, run_id="rf")

    tdir = os.path.join(out, "triples", "gen-000001")
    part_dirs = [d for d in os.listdir(tdir) if d.startswith("part_id=")]
    assert part_dirs
    for d in part_dirs:
        files = [f for f in os.listdir(os.path.join(tdir, d)) if f.startswith("part-")]
        assert len(files) <= 2, f"{d} has {len(files)} files (write not clustered)"


def test_unreadable_manifest_raises(spark, corpus_dfs, pipeline, tmp_path_factory):
    """A manifest that exists but cannot be read must fail the run, not
    count as empty (that would silently re-run every bucket), and the
    failed run writes no triples."""
    import os

    out = str(tmp_path_factory.mktemp("kg_out_corrupt"))
    os.makedirs(os.path.join(out, "_manifest"))
    with open(os.path.join(out, "_manifest", "manifest-000001.json"), "wb") as f:
        f.write(b"not a json manifest" * 8)
    with pytest.raises(Exception):
        run_incremental(spark, corpus_dfs[0], pipeline, out, n_buckets=4, run_id="rc")
    assert not os.path.exists(os.path.join(out, "triples"))


def test_foreign_manifests_raise(spark, corpus_dfs, pipeline, tmp_path_factory):
    """Valid JSON that is not a triple-store manifest, a ``_manifest`` in
    the retired parquet layout, and a store in the retired append layout (a
    manifest with ``parts`` but no ``generations``, over triples appended
    under ``triples/part_id=<p>/``) raise ``ValueError`` from the readers
    and a run; none is read as empty or migrated, and the run writes no
    triples."""
    import json
    import os

    from gtfsrt2lc_spark.plans.manifest import (
        _MANIFEST_FIELDS,
        MANIFEST_SCHEMA,
        _manifest_path,
        _triples_path,
    )

    def triple_files(out):
        return sorted(
            os.path.join(d, f) for d, _, fs in os.walk(_triples_path(out)) for f in fs
        )

    not_ours = str(tmp_path_factory.mktemp("kg_out_not_ours"))
    os.makedirs(_manifest_path(not_ours))
    with open(os.path.join(_manifest_path(not_ours), "manifest-000007.json"), "w") as f:
        f.write('{"seq": 7, "generations": ["gen-000007"]}')
    old_layout = str(tmp_path_factory.mktemp("kg_out_old_layout"))
    spark.createDataFrame(
        [(p, 1, 1, 0, "old", 0, "done") for p in range(4)], MANIFEST_SCHEMA
    ).write.parquet(_manifest_path(old_layout))
    appended = str(tmp_path_factory.mktemp("kg_out_appended"))
    spark.createDataFrame(
        [(f"s{p}", "p", "o", "g", p) for p in range(4)],
        "subj string, pred string, obj string, graph string, part_id int",
    ).write.partitionBy("part_id").parquet(_triples_path(appended))
    os.makedirs(_manifest_path(appended))
    with open(os.path.join(_manifest_path(appended), "manifest-000001.json"), "w") as f:
        row = dict(zip(_MANIFEST_FIELDS, (0, 1, 1, 0, "old", 0, "done")))
        json.dump({"seq": 1, "parts": [{**row, "part_id": p} for p in range(4)]}, f)

    for out, match in (
        (not_ours, "not a triple-store manifest"),
        (old_layout, "parquet"),
        (appended, "not a triple-store manifest"),
    ):
        before = triple_files(out)
        with pytest.raises(ValueError, match=match):
            read_manifest(spark, out)
        with pytest.raises(ValueError, match=match):
            read_triples(spark, out)
        with pytest.raises(ValueError, match=match):
            run_incremental(spark, corpus_dfs[0], pipeline, out, n_buckets=4, run_id="rf")
        assert triple_files(out) == before


def test_crash_before_manifest_commit(
    spark, corpus_dfs, pipeline, corpus, tmp_path_factory, monkeypatch
):
    """Two crashes after the triples write and before the manifest (the
    commit point): nothing is recorded and readers see no uncommitted row.
    The rerun processes every bucket again and overwrites the crashed
    generation, so the store holds one clean run's files and rows, reads
    back exactly the golden triples, and lists each bucket once."""
    import glob
    import os

    from gtfsrt2lc_spark.functions import hadoop_fs

    out = str(tmp_path_factory.mktemp("kg_out_crash"))
    pages = corpus_dfs[0]

    def crash(*args, **kwargs):
        raise RuntimeError("injected crash before the manifest write")

    with monkeypatch.context() as mp:
        mp.setattr(hadoop_fs, "write_text_atomic", crash)
        for i in range(2):
            with pytest.raises(RuntimeError, match="injected crash"):
                run_incremental(spark, pages, pipeline, out, n_buckets=8, run_id=f"crash{i}")
    assert read_manifest(spark, out).count() == 0
    assert read_triples(spark, out).count() == 0

    m = run_incremental(spark, pages, pipeline, out, n_buckets=8, run_id="rerun")
    assert m["parts"] == 8
    tdir = os.path.join(out, "triples")
    assert os.listdir(tdir) == ["gen-000001"]
    files = glob.glob(os.path.join(tdir, "**", "*.parquet"), recursive=True)
    assert len(files) == 8, files
    assert spark.read.parquet(os.path.join(tdir, "gen-000001")).count() == m["n_triples"]
    got = {(r["subj"], r["pred"], r["obj"]) for r in read_triples(spark, out).collect()}
    assert got == corpus.golden_triples
    parts = [r["part_id"] for r in read_manifest(spark, out).collect()]
    assert sorted(parts) == list(range(8))


def test_rerun_replaces_the_whole_crashed_generation(
    spark, corpus_dfs, pipeline, tmp_path_factory, monkeypatch
):
    """A crashed run over every bucket, then a rerun over fewer buckets: the
    rerun's generation holds only its own buckets, even in a session whose
    default partition overwrite is dynamic (which would keep the crashed
    run's other bucket dirs, and readers would see their rows)."""
    import os

    from gtfsrt2lc_spark.functions import hadoop_fs

    out = str(tmp_path_factory.mktemp("kg_out_crash_fewer"))
    pages = corpus_dfs[0]
    part = F.pmod(F.xxhash64("url"), F.lit(4)).cast("int")

    def crash(*args, **kwargs):
        raise RuntimeError("injected crash before the manifest write")

    conf = "spark.sql.sources.partitionOverwriteMode"
    previous = spark.conf.get(conf)
    spark.conf.set(conf, "dynamic")
    try:
        with monkeypatch.context() as mp:
            mp.setattr(hadoop_fs, "write_text_atomic", crash)
            with pytest.raises(RuntimeError, match="injected crash"):
                run_incremental(spark, pages, pipeline, out, n_buckets=4, run_id="crash")
        m = run_incremental(
            spark, pages.where(part < 2), pipeline, out, n_buckets=4, run_id="rerun"
        )
    finally:
        spark.conf.set(conf, previous)
    assert m["parts"] == 2
    gen = os.path.join(out, "triples", "gen-000001")
    assert sorted(d for d in os.listdir(gen) if d.startswith("part_id=")) == [
        "part_id=0", "part_id=1"
    ]
    assert spark.read.parquet(gen).count() == m["n_triples"]


def test_manifest_vacuum_keeps_the_live_one(
    spark, corpus_dfs, pipeline, corpus, tmp_path_factory
):
    """Three committing passes into one store leave exactly one manifest
    file, the newest, and it lists every bucket once."""
    import os

    out = str(tmp_path_factory.mktemp("kg_out_vacuum"))
    pages = corpus_dfs[0]
    part = F.pmod(F.xxhash64("url"), F.lit(8)).cast("int")
    for i, upto in enumerate((3, 6, 8)):
        m = run_incremental(
            spark, pages.where(part < upto), pipeline, out, n_buckets=8, run_id=f"v{i}"
        )
        assert m["parts"] > 0
    files = [f for f in os.listdir(os.path.join(out, "_manifest")) if f.startswith("manifest-")]
    assert files == ["manifest-000003.json"]
    parts = [r["part_id"] for r in read_manifest(spark, out).collect()]
    assert sorted(parts) == list(range(8))
    got = {(r["subj"], r["pred"], r["obj"]) for r in read_triples(spark, out).collect()}
    assert got == corpus.golden_triples


# Spark jobs of one warm run_incremental pass over the fixture corpus into a
# fresh store: 2 pre-scan, 4 fold stage, 7 mapping stage, 5 triples write and
# none for the manifest, which the driver reads and writes as JSON. A resume
# over a complete store runs no job: its manifest says every bucket is done.
PASS_JOB_BUDGET = 18
RESUME_JOB_BUDGET = 0


def test_warm_pass_job_budget(spark, corpus_dfs, pipeline, corpus, tmp_path_factory):
    """A warm pass (KB frames already built) issues no more Spark jobs than
    the budget, counted by job group."""
    pages = corpus_dfs[0]
    sc = spark.sparkContext
    run_incremental(
        spark, pages, pipeline, str(tmp_path_factory.mktemp("kg_warm")), n_buckets=8,
        run_id="warm",
    )
    out = str(tmp_path_factory.mktemp("kg_budget"))

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    m, n_pass = jobs(
        "budget-pass",
        lambda: run_incremental(spark, pages, pipeline, out, n_buckets=8, run_id="b1"),
    )
    assert m["parts"] == 8
    assert n_pass <= PASS_JOB_BUDGET, n_pass
    m2, n_resume = jobs(
        "budget-resume",
        lambda: run_incremental(spark, pages, pipeline, out, n_buckets=8, run_id="b2"),
    )
    assert m2["parts"] == 0
    assert n_resume <= RESUME_JOB_BUDGET, n_resume
    got = {(r["subj"], r["pred"], r["obj"]) for r in read_triples(spark, out).collect()}
    assert got == corpus.golden_triples
