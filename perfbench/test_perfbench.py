"""Self-tests of the benchmark (no Spark session):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re

import pytest

import gen
import harness
import run as bench

HERE = os.path.dirname(os.path.abspath(__file__))


def _digest(corpus: gen.Corpus) -> str:
    h = hashlib.sha256()
    for row in corpus.pages:
        h.update(repr(row).encode())
    h.update(repr(sorted(corpus.golden_triples)).encode())
    h.update(repr(sorted(corpus.golden_text.items())).encode())
    return h.hexdigest()


def _dirty(seed: int) -> gen.Corpus:
    kb = gen.large_kb(random.Random(seed), 300, (1, 4))
    return gen.kg_corpus(seed, kb, 400, (0, 1), (1, 3), typo_frac=0.3)


def test_kg_corpus_is_deterministic_per_seed():
    assert _digest(_dirty(5)) == _digest(_dirty(5))
    assert _digest(_dirty(5)) != _digest(_dirty(6))
    batch = gen.kg_corpus(3, gen.fixture_kb(), 200, (20, 40))
    assert _digest(batch) == _digest(gen.kg_corpus(3, gen.fixture_kb(), 200, (20, 40)))


def test_gtfs_bundle_is_byte_identical_per_seed(tmp_path):
    def files(root):
        b = gen.gtfs_bundle(9, str(root), n_trips=300, n_stops=60, n_routes=20,
                            n_entities=40, n_polls=3, changed_range=(2, 5))
        out = {}
        for d, _, names in os.walk(root):
            for n in names:
                with open(os.path.join(d, n), "rb") as f:
                    out[os.path.relpath(os.path.join(d, n), root)] = f.read()
        return out, b.golden

    first, golden_a = files(tmp_path / "a")
    second, golden_b = files(tmp_path / "b")
    assert first == second and golden_a == golden_b
    assert len(first) == 5 + 4  # 5 static tables, 4 feeds


_FACT = re.compile(r"<p>(.+?) (" + "|".join(sorted(gen.PREDICATES, key=len, reverse=True))
                   + r") (.+?)\.</p>")


def test_golden_triples_are_the_planted_facts():
    """Re-derive the golden set from the page html alone: every fact
    sentence, with typo'd surfaces mapped back to their entity."""
    corpus = _dirty(11)
    kb = corpus.kb
    to_name = {}
    for surface, rid, _ in kb.surfaces:
        to_name[surface] = kb.canonical[rid]
        to_name[gen.typo(surface)] = kb.canonical[rid]
    found = set()
    for _, _, html, _, _ in corpus.pages:
        for subj, phrase, obj in _FACT.findall(html.decode()):
            found.add((gen.entity_iri(to_name[subj]),
                       gen.predicate_iri(gen.PREDICATES[phrase][0]),
                       gen.entity_iri(to_name[obj])))
    assert found == corpus.golden_triples
    assert corpus.n_typo_mentions > 0.2 * corpus.n_mentions


def test_large_kb_surfaces_are_unambiguous():
    kb = gen.large_kb(random.Random(2), 2000, (1, 4))
    surfaces = [s for s, _, _ in kb.surfaces]
    assert len(surfaces) == len(set(surfaces))
    assert len(kb.sameas) == len(kb.records) - 2000
    assert all(re.fullmatch(r"[A-Z][\w.]*(?: [A-Z][\w.]*)*", s) for s in surfaces)


def test_gtfs_golden_counts_follow_the_changed_trips(tmp_path):
    b = gen.gtfs_bundle(4, str(tmp_path), n_trips=200, n_stops=40, n_routes=10,
                        n_entities=30, n_polls=4, changed_range=(3, 6))
    trips_of = [{t for t, _, _ in g} for g in b.golden]
    assert len(trips_of[0]) == 30
    for k in range(1, 5):
        assert 3 <= len(trips_of[k]) <= 6
        assert trips_of[k] <= trips_of[0]
    # each trip of 8-20 stops yields one connection per stop but the last
    assert all(7 <= sum(1 for t2, _, _ in b.golden[0] if t2 == t) <= 19 for t in trips_of[0])


def test_percentile_and_tail():
    values = list(range(1, 101))
    assert harness.percentile(values, 50) == 50
    assert harness.percentile(values, 90) == 90
    assert harness.percentile([7.0], 99) == 7.0
    assert harness.tail_percentile(values) == (90.0, 90)  # exactly 10 beyond p90
    assert harness.tail_percentile(list(range(1, 41))) == (75.0, 30)
    assert harness.tail_percentile(list(range(1, 21))) == (50.0, 10)
    assert harness.tail_percentile(list(range(1, 20))) is None
    with pytest.raises(ValueError):
        harness.percentile([], 50)


def test_precision_recall():
    assert harness.precision_recall({1, 2, 3, 4}, {2, 3, 4, 5, 6}) == (0.75, 0.6)
    assert harness.precision_recall(set(), {1}) == (1.0, 0.0)
    assert harness.precision_recall({1}, set()) == (0.0, 1.0)
    assert harness.precision_recall(set(), set()) == (1.0, 1.0)


def test_eventlog_counters_attribute_by_window(tmp_path):
    def task(stage, ms, shuffle=0, read=0, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": ms, "Input Metrics": {"Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}

    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 500, "Stage IDs": [0]},
        task(0, 999, read=10**6),
        {"Event": "SparkListenerJobStart", "Submission Time": 1500, "Stage IDs": [1, 2]},
        task(1, 10, shuffle=50, read=100), task(1, 10), task(1, 40, spill=7),
        task(2, 5),
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    c = harness.eventlog_counters(str(tmp_path), 1.0, 2.0)
    assert c["spark.jobs"] == 1 and c["spark.stages"] == 2 and c["spark.tasks"] == 4
    assert c["spark.shuffle_write_bytes"] == 50
    assert c["spark.shuffle_frac_of_scan"] == 0.5
    assert c["spark.spill_bytes"] == 7
    assert c["spark.task_skew"] == 4.0  # heaviest stage 1: max 40 / median 10


def test_metric_specs_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == bench.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == bench.PER_LAYER
    for w in spec["workloads"]:  # an unknown workload makes argparse exit
        assert bench._parse(["--workload", w["name"], "--seed", "1", "--seconds", "1"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_result_has_exactly_the_contract_keys():
    from workloads import Run

    r = Run(attempted=3, metrics={n: 1.5 for n, _, _ in bench.END_TO_END})
    out = bench.result(r, trace=False)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert list(out["metrics"]) == [n for n, _, _ in bench.END_TO_END]
    traced = bench.result(Run(attempted=1), trace=True)
    assert list(traced["metrics"]) == [n for n, _, _ in bench.PER_LAYER]
    # an unmeasured metric makes the run incorrect; the result still prints
    empty = bench.result(Run(attempted=1), trace=False)
    assert empty["correct"] is False
    assert list(empty["metrics"]) == [n for n, _, _ in bench.END_TO_END]


def test_failing_operations_are_recorded_not_raised():
    import workloads

    ctx = workloads.Ctx(seed=1, seconds=0.0, trace=False, work="", tracer=harness.Tracer(False))

    def regressed(i):
        raise RuntimeError("engine regression")

    run = workloads.Run()
    _, done = workloads.closed_loop(ctx, run, regressed)
    assert done == []
    assert run.attempted == run.failed == workloads.MIN_TIMED_OPS
    workloads.op_metrics(run, 100, [])
    out = bench.result(run, trace=False)
    assert out["correct"] is False and out["failed"] == out["attempted"]

    ok = workloads.Run()
    _, done = workloads.closed_loop(ctx, ok, lambda i: 10 * i)
    assert [(i, r) for i, _, r in done] == [(0, 0), (1, 10)]
    workloads.op_metrics(ok, 100, [t for _, t, _ in done])
    assert ok.correct and ok.failed == 0 and ok.metrics["op_p50_ms"] > 0
