"""The benchmark's workloads. Each drives the engine only through its
public entry points and returns a ``Run``: operations attempted and failed,
the correctness verdict, end-to-end metrics and (traced runs) per-layer
metrics. Inputs are generated from the seed and staged to files before the
session starts; the engine only ever reads files.

Every workload is a closed loop with one client: the next operation starts
when the previous one has committed.
"""

from __future__ import annotations

import concurrent.futures
import glob
import multiprocessing
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import gen
import harness
from harness import Tracer, noop, stopwatch

MIN_TIMED_OPS = 2
SETUP_REPEATS = 3
STREAM_TRACE_FILES = 3  # page files the kg_mixed trace streams, one per micro-batch


@dataclass
class Run:
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    problems: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    # (start, end) epoch seconds of the micro-batches the Spark counters
    # are attributed to, when the run streamed
    stream_window: tuple[float, float] | None = None

    def check(self, ok: bool, what: str) -> bool:
        """Record a failed correctness check; the failing check also counts
        as one failed operation."""
        if not ok:
            self.correct = False
            self.failed += 1
            self.problems.append(what)
        return ok

    @contextmanager
    def guard(self, what: str):
        """Record an exception raised inside as a failed check instead of
        ending the run."""
        try:
            yield
        except Exception as e:
            self.check(False, f"{what} raised {type(e).__name__}: {e}")


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    work: str  # this run's scratch directory
    tracer: Tracer


def in_child(fn, *args, **kwargs):
    """``fn(*args, **kwargs)`` in a forked child process. Inputs are
    generated and staged there, so the driver never holds the corpus and
    ``peak_rss_mb`` counts the engine, not the benchmark's copy of its
    inputs; only the small golden sets come back."""
    ctx = multiprocessing.get_context("fork")
    with concurrent.futures.ProcessPoolExecutor(1, mp_context=ctx) as ex:
        return ex.submit(fn, *args, **kwargs).result()


def closed_loop(ctx: Ctx, run: Run, op, limit: int | None = None):
    """One client, closed loop: ``op(i)`` for i = 0, 1, ... until
    ``ctx.seconds`` have passed, at least ``MIN_TIMED_OPS`` times and at most
    ``limit`` times. An op that raises counts as one failed operation and
    the loop goes on. Returns the timed window and ``(i, seconds, result)``
    for every op that returned."""
    done = []
    window = harness.Window()
    i = 0
    while ((time.time() - window.start < ctx.seconds or i < MIN_TIMED_OPS)
           and (limit is None or i < limit)):
        run.attempted += 1
        with run.guard(f"operation {i}"), ctx.tracer.span("op", index=i), stopwatch() as t:
            out = op(i)
            done.append((i, t, out))
        i += 1
    window.close()
    # the stopwatch fills its list on exit, after the append
    return window, [(i, t[0], out) for i, t, out in done]


def op_metrics(run: Run, units_per_op: float, times: list[float]) -> None:
    """``rows_per_s`` and ``op_p50_ms`` from the wall times of the ops that
    returned. With none, nothing is measured; every op already counts as
    failed."""
    if not times:
        return
    mid = statistics.median(times)
    run.metrics["rows_per_s"] = units_per_op / mid
    run.metrics["op_p50_ms"] = mid * 1000.0
    run.layers["op.count"] = len(times)
    run.layers["op.first_ms"] = times[0] * 1000.0
    tail = harness.tail_percentile(times)
    run.layers["op.tail_pct"] = tail[0] if tail else 0.0
    run.layers["op.tail_ms"] = tail[1] * 1000.0 if tail else 0.0


@dataclass(frozen=True)
class KGSpec:
    """Generator and staging parameters of one KG workload."""

    n_pages: int
    noise_range: tuple[int, int]
    facts_range: tuple[int, int]
    kb_entities: int  # 0: the engine fixture's 36-entity KB
    kb_chain: tuple[int, int]
    typo_frac: float
    n_files: int


# the benchmarked KG workload: long pages (per-document work) whose fact
# sentences name a sameAs-chained KB, a share of them typo'd (fuzzy linking)
KG_MIXED = KGSpec(3500, (80, 120), (1, 5), 2000, (1, 4), 0.05, 8)
# runnable on their own, to separate the two halves of kg_mixed
KG_BATCH = KGSpec(6000, (80, 120), (1, 5), 0, (1, 1), 0.0, 8)
KG_DIRTY = KGSpec(1000, (0, 1), (1, 3), 3000, (1, 4), 0.3, 8)
KG_STREAM = KGSpec(3000, (80, 120), (1, 5), 0, (1, 1), 0.0, 8)


def _predicates() -> dict[str, str]:
    return {phrase: local for phrase, (local, _, _) in gen.PREDICATES.items()}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_")))


def _nq_lines(path: str) -> int:
    n = 0
    for p in glob.glob(os.path.join(path, "part-*")):
        with open(p, "rb") as f:
            n += sum(1 for _ in f)
    return n


def _page_files(paths: dict[str, str]) -> list[str]:
    return sorted(glob.glob(os.path.join(paths["pages"], "*.parquet")))


# ---------------------------------------------------------------------------
# KG inputs and set-up
# ---------------------------------------------------------------------------


@dataclass
class KGInputs:
    paths: dict[str, str]
    n_rows: int
    golden_triples: set[tuple[str, str, str]]
    golden_text: dict[str, str]


def stage_kg(seed: int, work: str, spec: KGSpec) -> KGInputs:
    """Generate the corpus and write pages and KB to parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if spec.kb_entities:
        kb = gen.large_kb(random.Random(seed * 7919 + 1), spec.kb_entities, spec.kb_chain)
    else:
        kb = gen.fixture_kb()
    corpus = gen.kg_corpus(seed, kb, spec.n_pages, spec.noise_range, spec.facts_range,
                           spec.typo_frac)
    paths = {name: os.path.join(work, "input", name)
             for name in ("pages", "records", "surfaces", "sameas")}
    gen.write_pages(corpus.pages, paths["pages"], spec.n_files)
    for name, rows, cols in (
        ("records", kb.records, ("record_id", "name", "entity_type")),
        ("surfaces", kb.surfaces, ("surface", "record_id", "prior")),
        ("sameas", kb.sameas, ("src", "dst")),
    ):
        os.makedirs(paths[name])
        table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
        pq.write_table(table, os.path.join(paths[name], "part-0.parquet"))
    return KGInputs(paths, len(corpus.pages), corpus.golden_triples, corpus.golden_text)


def kb_frames(spark, paths: dict[str, str]):
    return tuple(spark.read.parquet(paths[n]) for n in ("records", "surfaces", "sameas"))


def prepare_pipeline(spark, paths: dict[str, str]):
    """KB preparation a user pays before the first page: build the
    pipeline and its canonical map (connected components over sameAs)."""
    from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline

    pipe = KGPipeline(*kb_frames(spark, paths), _predicates())
    pipe.canonical_map()
    return pipe


def timed_setup(ctx: Ctx, run: Run, paths: dict[str, str]):
    """Start the session, then prepare the KB ``SETUP_REPEATS`` times;
    setup_s = session start + median preparation."""
    with ctx.tracer.span("session.start"), stopwatch() as t_session:
        spark = harness.start_session(ctx.work, _event_dir(ctx))
    preps = []
    for i in range(SETUP_REPEATS):
        with ctx.tracer.span("setup.kb_prep", repeat=i), stopwatch() as t:
            pipe = prepare_pipeline(spark, paths)
        preps.append(t[0])
    run.metrics["setup_s"] = t_session[0] + statistics.median(preps)
    run.layers["session.start_s"] = t_session[0]
    run.layers["setup.prep_s"] = statistics.median(preps)
    return spark, pipe


def _event_dir(ctx: Ctx) -> str | None:
    return os.path.join(ctx.work, "events") if ctx.trace else None


def _pages_df(spark, paths):
    return spark.read.parquet(paths["pages"])


def check_text(run: Run, pipe, pages, golden_text: dict[str, str]) -> None:
    from pyspark.sql import functions as F

    sample = sorted(golden_text)
    got = {
        r["url"]: r["extracted_text"]
        for r in pipe.extracted(pages.where(F.col("url").isin(sample)))
        .select("url", "extracted_text").collect()
    }
    bad = [u for u in sample if got.get(u) != golden_text[u]]
    run.check(not bad, f"extracted text differs from golden on {len(bad)}/{len(sample)} urls")


def check_triples(run: Run, rows, golden: set) -> None:
    emitted = {(r["subj"], r["pred"], r["obj"]) for r in rows}
    p, r = harness.precision_recall(emitted, golden)
    run.metrics["precision"] = p
    run.metrics["recall"] = r
    run.check(p >= 0.95 and r >= 0.95, f"triple precision {p:.4f} / recall {r:.4f} below 0.95")


# ---------------------------------------------------------------------------
# kg_mixed / kg_batch / kg_dirty_kb
# ---------------------------------------------------------------------------


def run_batch(ctx: Ctx, spec: KGSpec) -> Run:
    """Each operation: one ``run_incremental`` pass into a fresh out dir,
    then ``read_triples`` and an N-Quads export. Passes repeat until
    ``seconds`` have passed (at least ``MIN_TIMED_OPS``), after an untimed
    warm-up of the same calls over one page file, so JIT compilation and
    Python worker start-up fall outside the timed passes."""
    from gtfsrt2lc_spark.plans.manifest import read_triples, run_incremental
    from gtfsrt2lc_spark.sources.nquads import write_nquads

    run = Run()
    inp = in_child(stage_kg, ctx.seed, ctx.work, spec)
    spark, pipe = timed_setup(ctx, run, inp.paths)
    pages = _pages_df(spark, inp.paths)

    with run.guard("warm-up"), ctx.tracer.span("warmup"), stopwatch() as t_warm:
        run_incremental(spark, spark.read.parquet(_page_files(inp.paths)[0]), pipe,
                        os.path.join(ctx.work, "out", "warmup"), n_buckets=8, run_id="warmup")
    run.layers["op.warmup_s"] = t_warm[0]

    def one_pass(i: int):
        out = os.path.join(ctx.work, "out", f"pass-{i}")
        with ctx.tracer.span("plans.manifest.run_incremental"):
            m = run_incremental(spark, pages, pipe, out, n_buckets=8, run_id=f"pass-{i}")
        with ctx.tracer.span("sources.nquads.write_nquads"):
            write_nquads(read_triples(spark, out), os.path.join(out, "nq"))
        return out, m

    window, done = closed_loop(ctx, run, one_pass)
    for i, _, (_, m) in done:
        run.check(m["n_docs"] == inp.n_rows, f"pass {i} read {m['n_docs']} of {inp.n_rows} rows")
    counts = sorted({m["n_triples"] for _, _, (_, m) in done})
    run.check(len(counts) <= 1, f"passes wrote differing triple counts {counts}")

    if done:  # the outputs of the last pass that returned
        last_out = done[-1][2][0]
        with run.guard("output checks"):
            rows = read_triples(spark, last_out).select("subj", "pred", "obj").collect()
            check_triples(run, rows, inp.golden_triples)
            run.check(_nq_lines(os.path.join(last_out, "nq")) == len(rows),
                      "N-Quads lines != triples")
            again = run_incremental(spark, pages, pipe, last_out, n_buckets=8, run_id="resume")
            run.check(again["parts"] == 0 and again["n_triples"] == 0,
                      f"second run_incremental emitted {again}")
    with run.guard("text check"):
        check_text(run, pipe, pages, inp.golden_text)

    # a pass is the run a user makes: both figures are medians over passes
    op_metrics(run, inp.n_rows, [t for _, t, _ in done])
    if ctx.trace:
        run.layers["trace.rows_per_s"] = run.metrics.get("rows_per_s", 0.0)
        with run.guard("layer trace"):
            kg_layers(ctx, run, spark, pages, inp.paths)
        with run.guard("stream trace"):
            stream_layers(ctx, run, spark, pipe, inp.paths)
    return _finish(ctx, run, spark, window, len(done))


def _finish(ctx: Ctx, run: Run, spark, window: harness.Window, n_ops: int) -> Run:
    harness.stop_session(spark)  # also flushes the event log
    run.layers["host.steal_frac"] = window.steal_frac
    if ctx.trace:
        counters = harness.eventlog_counters(_event_dir(ctx), window.start, window.end)
        run.layers.update(counters)
        run.layers["spark.jobs_per_op"] = counters["spark.jobs"] / max(1, n_ops)
        if run.stream_window:
            jobs = harness.eventlog_counters(_event_dir(ctx), *run.stream_window)["spark.jobs"]
            run.layers["streaming.pages.jobs_per_batch"] = (
                jobs / max(1, run.layers.get("streaming.pages.batches", 0)))
    return run


# ---------------------------------------------------------------------------
# kg_stream, and the micro-batch layers of the kg_mixed trace
# ---------------------------------------------------------------------------


def drain(ctx: Ctx, spark, pipe, src_dir: str, tag: str, ckpt: str | None = None):
    """Stream every page file in ``src_dir`` through
    ``stream_pages_to_triples``, one file per trigger, with availableNow.
    Returns the wall time from stream start to the last epoch commit, the
    output and checkpoint dirs, and the progress of each non-empty
    micro-batch."""
    from gtfsrt2lc_spark.streaming.pages import stream_pages_to_triples

    out = os.path.join(ctx.work, "out", tag)
    ckpt = ckpt or os.path.join(ctx.work, "ckpt", tag)
    schema = spark.read.parquet(src_dir).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    with ctx.tracer.span("streaming.pages.drain", tag=tag), stopwatch() as t:
        q = stream_pages_to_triples(src, pipe, out, ckpt, available_now=True)
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    return t[0], out, ckpt, batches


def _batch_layers(run: Run, batches: list[dict]) -> None:
    """Micro-batch latency is Spark's own ``durationMs.triggerExecution``
    (trigger start to epoch commit)."""
    run.layers["streaming.pages.batches"] = len(batches)
    run.layers["streaming.pages.batch_p50_ms"] = statistics.median(
        b["durationMs"]["triggerExecution"] for b in batches)
    run.layers["streaming.pages.addbatch_ms"] = statistics.median(
        b["durationMs"].get("addBatch", 0) for b in batches)


def stream_layers(ctx: Ctx, run: Run, spark, pipe, paths: dict[str, str]) -> None:
    """The per-batch cost of the same pipeline: the first
    ``STREAM_TRACE_FILES`` page files streamed as one micro-batch each."""
    src = os.path.join(ctx.work, "input", "stream")
    os.makedirs(src)
    for path in _page_files(paths)[:STREAM_TRACE_FILES]:
        shutil.copy(path, src)
    start = time.time()
    _, _, _, batches = drain(ctx, spark, pipe, src, "trace-stream")
    run.stream_window = (start, time.time())
    run.check(len(batches) == STREAM_TRACE_FILES,
              f"trace stream: {len(batches)} batches for {STREAM_TRACE_FILES} files")
    _batch_layers(run, batches)


def run_stream(ctx: Ctx, spec: KGSpec) -> Run:
    """Each operation: one micro-batch of ``stream_pages_to_triples`` over
    the small page files, one file per trigger, drained with availableNow.
    Drains repeat, each into fresh output and checkpoint dirs, until
    ``seconds`` have passed."""
    from gtfsrt2lc_spark.streaming.pages import read_stream_triples

    run = Run()
    inp = in_child(stage_kg, ctx.seed, ctx.work, spec)
    spark, pipe = timed_setup(ctx, run, inp.paths)

    def one_drain(k: int):
        # every micro-batch of the drain is an operation; the loop counted one
        run.attempted += spec.n_files - 1
        dt, out, ckpt, batches = drain(ctx, spark, pipe, inp.paths["pages"], f"drain-{k}")
        run.check(len(batches) == spec.n_files,
                  f"drain {k}: {len(batches)} batches for {spec.n_files} files")
        return dt, out, ckpt, batches

    window, done = closed_loop(ctx, run, one_drain)
    run.failed += (spec.n_files - 1) * (run.attempted // spec.n_files - len(done))
    run.stream_window = (window.start, window.end)
    batches = [b for _, _, (_, _, _, bs) in done for b in bs]
    if done:
        _, out, ckpt, _ = done[-1][2]
        with run.guard("output checks"):
            tri = read_stream_triples(spark, out).select("subj", "pred", "obj").collect()
            check_triples(run, tri, inp.golden_triples)
            replay = drain(ctx, spark, pipe, inp.paths["pages"], "replay", ckpt)[3]
            run.check(not replay, f"restart on a drained checkpoint re-ran {len(replay)} batches")
    with run.guard("text check"):
        check_text(run, pipe, _pages_df(spark, inp.paths), inp.golden_text)

    if batches:
        drain_s = sum(dt for _, _, (dt, _, _, _) in done)
        run.metrics["rows_per_s"] = inp.n_rows * len(done) / drain_s
        run.metrics["op_p50_ms"] = statistics.median(b["durationMs"]["triggerExecution"]
                                                     for b in batches)
        run.layers["op.count"] = len(batches)
        run.layers["op.first_ms"] = batches[0]["durationMs"]["triggerExecution"]
        _batch_layers(run, batches)
    if ctx.trace:
        run.layers["trace.rows_per_s"] = run.metrics.get("rows_per_s", 0.0)
        with run.guard("layer trace"):
            # per-layer cost of one micro-batch's input
            kg_layers(ctx, run, spark, spark.read.parquet(_page_files(inp.paths)[0]), inp.paths)
    return _finish(ctx, run, spark, window, len(batches))


# ---------------------------------------------------------------------------
# KG per-layer trace
# ---------------------------------------------------------------------------


def kg_layers(ctx: Ctx, run: Run, spark, pages, paths: dict[str, str]) -> None:
    """Layer times from the outside: each public call's output is forced
    with a noop sink and the growing plan prefixes are timed
    (dedup -> extracted -> mentions -> linked), so a layer's time is the
    delta between prefixes. ``triples()`` fuses extraction with the phrase
    prefilter, so its whole call is reported next to the prefix chain and
    the difference is recorded as ``fused_gap_s``."""
    from pyspark.sql import functions as F

    from gtfsrt2lc_spark.operators.components import connected_components
    from gtfsrt2lc_spark.operators.dedup import latest_by_key
    from gtfsrt2lc_spark.operators.linking import FuzzyDictionary, link_fuzzy, resolve_dictionary
    from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline
    from gtfsrt2lc_spark.plans.manifest import read_triples, run_incremental
    from gtfsrt2lc_spark.sources.nquads import write_nquads

    L = run.layers
    tr = ctx.tracer
    records, surfaces, sameas = kb_frames(spark, paths)

    def timed(name: str, fn):
        with tr.span(name), stopwatch() as t:
            out = fn()
        return t[0], out

    t_cc, cc = timed("operators.components.connected_components",
                     lambda: connected_components(sameas).cache())
    t_cc2, _ = timed("operators.components.force", cc.count)
    L["operators.components.cc_s"] = t_cc + t_cc2
    L["operators.components.edges"] = sameas.count()
    L["operators.components.components"] = cc.select("component").distinct().count()
    cc.unpersist()

    pipe = KGPipeline(records, surfaces, sameas, _predicates())
    L["plans.kg_pipeline.canonical_map_s"], _ = timed("plans.kg_pipeline.canonical_map",
                                                      pipe.canonical_map)

    latest = latest_by_key(pages, "url", "warc_ts", unique_order=True)
    t_latest, _ = timed("operators.dedup.latest_by_key", lambda: noop(latest))
    L["operators.dedup.latest_s"] = t_latest
    L["operators.dedup.rows_in"] = pages.count()
    L["operators.dedup.rows_out"] = latest.count()
    L["functions.text.html_bytes"] = latest.agg(F.sum(F.length("html"))).first()[0] or 0

    t_ext, _ = timed("plans.kg_pipeline.extracted", lambda: noop(pipe.extracted(pages)))
    L["functions.text.extract_s"] = t_ext - t_latest
    mentions = pipe.mentions(pipe.extracted(pages))
    t_men, _ = timed("plans.kg_pipeline.mentions", lambda: noop(mentions))
    L["plans.kg_pipeline.mentions_s"] = t_men - t_ext
    L["plans.kg_pipeline.mentions"] = mentions.count()

    def link():
        df = pipe.linked(mentions)
        noop(df)
        return df

    t_link, linked = timed("plans.kg_pipeline.linked", link)
    L["plans.kg_pipeline.linked_s"] = t_link - t_men
    L["plans.kg_pipeline.linked_facts"] = linked.count()
    pipe.cleanup()

    tri_pipe = KGPipeline(records, surfaces, sameas, _predicates())
    tri_pipe.canonical_map()

    def triples():
        df = tri_pipe.triples(pages)
        noop(df)
        return df

    t_tri, tri = timed("plans.kg_pipeline.triples", triples)
    L["plans.kg_pipeline.triples_s"] = t_tri
    L["plans.kg_pipeline.triples"] = tri.count()
    L["plans.kg_pipeline.triples_per_linked_fact"] = (
        L["plans.kg_pipeline.triples"] / L["plans.kg_pipeline.linked_facts"]
        if L["plans.kg_pipeline.linked_facts"] else 0.0)
    L["plans.kg_pipeline.fused_gap_s"] = t_tri - t_link
    tri_pipe.cleanup()

    rd = resolve_dictionary(surfaces)
    L["operators.linking.resolve_dictionary_s"], _ = timed(
        "operators.linking.resolve_dictionary", lambda: noop(rd))
    unmatched = (
        mentions.select(F.explode(F.array("subj_surface", "obj_surface")).alias("surface"))
        .distinct().join(rd.select("surface"), "surface", "left_anti").cache()
    )
    n_unmatched = unmatched.count()
    L["operators.linking.unmatched_surfaces"] = n_unmatched
    # the pipeline builds the fuzzy dictionary and probes it only when some
    # surface is unmatched; so does the trace
    if n_unmatched:
        def fuzzy_dict():
            fd = FuzzyDictionary(surfaces)
            noop(fd.bands_df)
            noop(fd.shingled)
            return fd

        L["operators.linking.fuzzy_dictionary_s"], fd = timed(
            "operators.linking.FuzzyDictionary", fuzzy_dict)
        recovered = link_fuzzy(unmatched, None, prepped=fd)
        L["operators.linking.link_fuzzy_s"], _ = timed("operators.linking.link_fuzzy",
                                                       lambda: noop(recovered))
        n_rec = recovered.count()
        L["operators.linking.fuzzy_recovered"] = n_rec
        L["operators.linking.fuzzy_recovery_ratio"] = n_rec / n_unmatched
    unmatched.unpersist()

    out = os.path.join(ctx.work, "out", "trace")
    prep = KGPipeline(records, surfaces, sameas, _predicates())
    prep.canonical_map()
    L["plans.manifest.run_incremental_s"], m = timed(
        "plans.manifest.run_incremental",
        lambda: run_incremental(spark, pages, prep, out, n_buckets=8, run_id="trace"))
    L["plans.manifest.resume_s"], _ = timed(
        "plans.manifest.resume",
        lambda: run_incremental(spark, pages, prep, out, n_buckets=8, run_id="trace-resume"))
    L["plans.manifest.parts"] = m["parts"]
    L["plans.manifest.files_written"] = len(
        glob.glob(os.path.join(out, "triples", "**", "*.parquet"), recursive=True))
    nq = os.path.join(out, "nq")
    L["sources.nquads.write_s"], _ = timed(
        "sources.nquads.write_nquads", lambda: write_nquads(read_triples(spark, out), nq))
    L["sources.nquads.bytes"] = _dir_bytes(nq)


# ---------------------------------------------------------------------------
# gtfs_rt2lc
# ---------------------------------------------------------------------------

# the engine's reference-scale GTFS shape (19.7k trips, ~283k stop_times,
# a 209-entity feed)
GTFS_SHAPE = dict(n_trips=19_704, n_stops=2_600, n_routes=1_000, n_entities=209)
GTFS_POLLS = 24
GTFS_CHANGED = (25, 25)  # the same work in every seed's polls

_LC = "http://semweb.mmlab.be/ns/linkedconnections#"
_GTFS = "http://vocab.gtfs.org/terms#"


def parse_connections(out_dir: str) -> set[tuple[str, str, int]]:
    """(trip_id, departure stop_id, departure delay) per connection in an
    N-Triples output directory written with the default URI templates."""
    by_subj: dict[str, dict[str, str]] = {}
    for path in glob.glob(os.path.join(out_dir, "part-*")):
        with open(path) as f:
            for line in f:
                subj, pred, obj = line.rstrip(" .\n").split(" ", 2)
                by_subj.setdefault(subj, {})[pred[1:-1]] = obj
    out = set()
    for props in by_subj.values():
        trip = props[_GTFS + "trip"][1:-1].split("/")[4]
        stop = props[_LC + "departureStop"][1:-1].rsplit("/", 1)[1]
        delay = int(props[_LC + "departureDelay"].split('"')[1])
        out.add((trip, stop, delay))
    return out


def run_gtfs(ctx: Ctx) -> Run:
    """Each operation: one ``rt2lc`` poll through ``cli.main`` (feed decode,
    static read and indexing, repair and pairing, history filter and
    commit, N-Triples write). Set-up is the session start plus the
    baseline poll that seeds the history store; an untimed re-poll of the
    baseline feed follows as warm-up. The timed polls alternate:
    the next RT snapshot, then the same snapshot again, which must emit no
    connection (a feed polled every 30 s is often unchanged)."""
    from gtfsrt2lc_spark.cli import main as cli_main

    run = Run()
    bundle = in_child(gen.gtfs_bundle, ctx.seed, os.path.join(ctx.work, "input"),
                      n_polls=GTFS_POLLS, changed_range=GTFS_CHANGED, **GTFS_SHAPE)
    hist = os.path.join(ctx.work, "history")

    def poll(k: int, feed: str) -> set[tuple[str, str, int]]:
        out = os.path.join(ctx.work, "out", f"poll-{k}")
        with ctx.tracer.span("cli.rt2lc", poll=k):
            rc = cli_main(["rt2lc", "-r", feed, "-s", bundle.static_dir, "-o", out,
                           "-f", "ntriples", "--history", hist], spark=spark)
        if rc != 0:
            raise RuntimeError(f"rt2lc exited {rc}")
        return parse_connections(out)

    with ctx.tracer.span("session.start"), stopwatch() as t_session:
        spark = harness.start_session(ctx.work, _event_dir(ctx))
    with run.guard("baseline poll"), ctx.tracer.span("setup.baseline_poll"), stopwatch() as t_base:
        got = poll(0, bundle.feeds[0])
        run.check(got == bundle.golden[0], f"baseline poll: {len(got)} connections, "
                  f"{len(bundle.golden[0])} planted")
    run.metrics["setup_s"] = t_session[0] + t_base[0]
    run.layers["session.start_s"] = t_session[0]
    run.layers["setup.prep_s"] = t_base[0]

    # The first poll after the baseline still pays JIT compilation: a changed
    # poll there took ~25% more CPU time than the next one. An untimed re-poll
    # of the baseline feed, which must emit nothing, brings the timed polls
    # to the CPU cost of later ones.
    with run.guard("warm-up poll"), ctx.tracer.span("warmup"), stopwatch() as t_warm:
        got = poll("warmup", bundle.feeds[0])
        run.check(not got, f"re-polling the baseline feed: {len(got)} new connections")
    run.layers["op.warmup_s"] = t_warm[0]

    def feed_of(i: int) -> tuple[int, set]:
        """Op i polls feed i // 2 + 1; an odd op re-polls it unchanged."""
        k = i // 2 + 1
        return k, (set() if i % 2 else bundle.golden[k])

    # the last feed is never polled here: the trace needs one with new connections
    window, done = closed_loop(ctx, run, lambda i: poll(i + 1, bundle.feeds[feed_of(i)[0]]),
                               limit=2 * (GTFS_POLLS - 1))
    emitted: set = set()
    golden: set = set()
    for i, _, got in done:
        k, planted = feed_of(i)
        what = "re-polling unchanged feed" if i % 2 else "polling feed"
        run.check(len(got) == len(planted),
                  f"{what} {k}: {len(got)} new connections, {len(planted)} planted")
        emitted |= {(i, *c) for c in got}
        golden |= {(i, *c) for c in planted}
    if done:
        p, r = harness.precision_recall(emitted, golden)
        run.metrics["precision"] = p
        run.metrics["recall"] = r
        run.check(p >= 0.95 and r >= 0.95, f"connection precision {p:.4f} / recall {r:.4f}")
    op_metrics(run, bundle.n_entities, [t for _, t, _ in done])
    if ctx.trace:
        run.layers["trace.rows_per_s"] = run.metrics.get("rows_per_s", 0.0)
        with run.guard("layer trace"):
            unpolled = (run.attempted + 1) // 2 + 1  # the first feed no timed op polled
            gtfs_layers(ctx, run, spark, bundle, hist, bundle.feeds[unpolled])
    return _finish(ctx, run, spark, window, len(done))


def gtfs_layers(ctx: Ctx, run: Run, spark, bundle, hist: str, feed: str) -> None:
    """Prefix timings of one poll's stages through the public plan API,
    against a copy of the committed history so the store is untouched."""
    from pyspark.sql import functions as F

    from gtfsrt2lc_spark.functions.gtfsrt_proto import decode_feed_df
    from gtfsrt2lc_spark.plans.gtfs import DEFAULT_URIS, GtfsIndexes, Gtfsrt2LCPipeline, HistoryStore
    from gtfsrt2lc_spark.sources.gtfs_serializers import connections_to_quads
    from gtfsrt2lc_spark.sources.nquads import to_nquads_lines

    L = run.layers
    tr = ctx.tracer
    payload = spark.read.format("binaryFile").load(feed).select(F.col("content").alias("payload"))
    updates = decode_feed_df(payload)
    with tr.span("functions.gtfsrt_proto.decode_feed_df"), stopwatch() as t:
        noop(updates)
    L["functions.gtfsrt_proto.decode_s"] = t[0]

    def csv(name):
        return spark.read.option("header", True).csv(os.path.join(bundle.static_dir, f"{name}.txt"))

    with tr.span("plans.gtfs.GtfsIndexes"), stopwatch() as t:
        idx = GtfsIndexes(stops=csv("stops"), routes=csv("routes"), trips=csv("trips"),
                          stop_times=csv("stop_times"), calendar=csv("calendar"))
        noop(idx.stop_times_by_trip)
    L["plans.gtfs.index_s"] = t[0]
    conns = Gtfsrt2LCPipeline(idx).connections(updates)
    with tr.span("plans.gtfs.connections"), stopwatch() as t:
        noop(conns)
    L["plans.gtfs.connections_s"] = t[0]
    n_conns = conns.count()
    L["plans.gtfs.connections"] = n_conns

    copy = os.path.join(ctx.work, "history-trace")
    shutil.copytree(hist, copy)
    store = HistoryStore(spark, copy)
    fresh = store.filter_new(conns).cache()
    with tr.span("plans.gtfs.HistoryStore.filter_new"), stopwatch() as t:
        n_new = fresh.count()
    L["plans.gtfs.history_filter_s"] = t[0]
    L["plans.gtfs.new_ratio"] = n_new / n_conns if n_conns else 0.0
    with tr.span("plans.gtfs.HistoryStore.commit"), stopwatch() as t:
        store.commit(fresh)
    L["plans.gtfs.history_commit_s"] = t[0]
    lines = to_nquads_lines(connections_to_quads(fresh, DEFAULT_URIS), graph=None,
                            obj_datatype="obj_datatype")
    with tr.span("sources.gtfs_serializers.write"), stopwatch() as t:
        lines.write.mode("overwrite").text(os.path.join(ctx.work, "out", "trace-nt"))
    L["sources.gtfs_serializers.write_s"] = t[0]
    fresh.unpersist()


WORKLOADS = {
    "kg_mixed": lambda ctx: run_batch(ctx, KG_MIXED),
    "kg_batch": lambda ctx: run_batch(ctx, KG_BATCH),
    "kg_dirty_kb": lambda ctx: run_batch(ctx, KG_DIRTY),
    "kg_stream": lambda ctx: run_stream(ctx, KG_STREAM),
    "gtfs_rt2lc": run_gtfs,
}
