"""KG-construction benchmark entry point.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. Generates the workload's
inputs from ``--seed``, measures for ``--seconds``, checks the engine's
outputs, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (and writes the run's spans to .perfbench_work/traces/). All
scratch lives under .perfbench_work/ in the checkout. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# (name, unit, better)
END_TO_END = [
    ("rows_per_s", "rows/s", "higher"),
    ("op_p50_ms", "ms", "lower"),
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MiB", "lower"),
    ("precision", "ratio", "higher"),
    ("recall", "ratio", "higher"),
]

# (name, unit, better); layers a workload does not exercise read 0: every
# one is exercised by kg_mixed or gtfs_rt2lc. The trace JSON also keeps the
# layers that read 0 on both (op.tail_*, spark.spill_bytes).
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("setup.prep_s", "s", "lower"),
    ("op.warmup_s", "s", "lower"),
    ("op.count", "count", "higher"),
    ("op.first_ms", "ms", "lower"),
    ("trace.rows_per_s", "rows/s", "higher"),
    ("operators.dedup.latest_s", "s", "lower"),
    ("operators.dedup.rows_in", "count", "higher"),
    ("operators.dedup.rows_out", "count", "lower"),
    ("functions.text.extract_s", "s", "lower"),
    ("functions.text.html_bytes", "bytes", "higher"),
    ("plans.kg_pipeline.mentions_s", "s", "lower"),
    ("plans.kg_pipeline.mentions", "count", "lower"),
    ("operators.linking.resolve_dictionary_s", "s", "lower"),
    ("operators.linking.fuzzy_dictionary_s", "s", "lower"),
    ("operators.linking.link_fuzzy_s", "s", "lower"),
    ("operators.linking.unmatched_surfaces", "count", "lower"),
    ("operators.linking.fuzzy_recovered", "count", "higher"),
    ("operators.linking.fuzzy_recovery_ratio", "ratio", "higher"),
    ("operators.components.cc_s", "s", "lower"),
    ("operators.components.edges", "count", "higher"),
    ("operators.components.components", "count", "lower"),
    ("plans.kg_pipeline.canonical_map_s", "s", "lower"),
    ("plans.kg_pipeline.linked_s", "s", "lower"),
    ("plans.kg_pipeline.linked_facts", "count", "lower"),
    ("plans.kg_pipeline.triples_s", "s", "lower"),
    ("plans.kg_pipeline.triples", "count", "higher"),
    ("plans.kg_pipeline.triples_per_linked_fact", "ratio", "higher"),
    ("plans.kg_pipeline.fused_gap_s", "s", "lower"),
    ("plans.manifest.run_incremental_s", "s", "lower"),
    ("plans.manifest.resume_s", "s", "lower"),
    ("plans.manifest.parts", "count", "higher"),
    ("plans.manifest.files_written", "count", "lower"),
    ("sources.nquads.write_s", "s", "lower"),
    ("sources.nquads.bytes", "bytes", "lower"),
    ("streaming.pages.batches", "count", "higher"),
    ("streaming.pages.batch_p50_ms", "ms", "lower"),
    ("streaming.pages.addbatch_ms", "ms", "lower"),
    ("streaming.pages.jobs_per_batch", "count", "lower"),
    ("functions.gtfsrt_proto.decode_s", "s", "lower"),
    ("plans.gtfs.index_s", "s", "lower"),
    ("plans.gtfs.connections_s", "s", "lower"),
    ("plans.gtfs.connections", "count", "higher"),
    ("plans.gtfs.history_filter_s", "s", "lower"),
    ("plans.gtfs.history_commit_s", "s", "lower"),
    ("plans.gtfs.new_ratio", "ratio", "lower"),
    ("sources.gtfs_serializers.write_s", "s", "lower"),
    ("host.steal_frac", "ratio", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_frac_of_scan", "ratio", "lower"),
    ("spark.task_skew", "ratio", "lower"),
]


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["kg_mixed", "gtfs_rt2lc", "kg_batch", "kg_dirty_kb", "kg_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every temp file, Spark scratch dir and Python worker import
    inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files in the system temp dir from the launcher or the JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]


def result(run, trace: bool) -> dict:
    """The contract's result object: exactly the end-to-end metrics, or
    exactly the per-layer ones in a traced run."""
    if trace:
        metrics = {n: {"value": float(run.layers.get(n, 0.0)), "unit": u} for n, u, _ in PER_LAYER}
    else:
        # only a run whose operations all failed leaves a metric unmeasured
        missing = [n for n, _, _ in END_TO_END if n not in run.metrics]
        run.check(not missing, f"not measured: {missing}")
        metrics = {n: {"value": float(run.metrics.get(n, 0.0)), "unit": u}
                   for n, u, _ in END_TO_END}
    # several failed checks can concern one operation
    return {"correct": run.correct, "attempted": run.attempted,
            "failed": min(run.failed, run.attempted), "metrics": metrics}


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "gtfsrt2lc_spark")):
        print("perfbench: the engine package gtfsrt2lc_spark is not in this checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)

    import harness
    import workloads

    ctx = workloads.Ctx(args.seed, args.seconds, bool(args.trace), work,
                        harness.Tracer(bool(args.trace)))
    try:
        with harness.RssSampler() as rss:
            run = workloads.WORKLOADS[args.workload](ctx)
        run.metrics["peak_rss_mb"] = rss.peak_mb
        if args.trace:
            ctx.tracer.dump(
                os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "layers": run.layers, "metrics": run.metrics, "problems": run.problems},
            )
    except BaseException:
        harness.stop_session()  # the workload may have raised with the JVM up
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out = result(run, bool(args.trace))
    for problem in run.problems:
        print(f"perfbench: {problem}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
