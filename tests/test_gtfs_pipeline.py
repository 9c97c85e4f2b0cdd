"""GTFS-RT -> Linked Connections parity tests.

Mirrors the reference test suite (`test/gtfsrt2lc.test.js`):
  golden gap counts 12/3/17 (:420-422), cancellations (:515), invariant
  departureTime <= arrivalTime (:161-192), history idempotence (:117-159),
  deduction (:577-605), format outputs (:267-392), repair unit tests
  (:607-640), scalar fns (:724-742).
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from gtfsrt2lc_spark.fixtures import gtfs as G
from gtfsrt2lc_spark.functions.gtfsrt_proto import decode_feed_df
from gtfsrt2lc_spark.plans.gtfs import (
    DEFAULT_URIS,
    GtfsIndexes,
    Gtfsrt2LCPipeline,
    HistoryStore,
    _check_update,
    parse_gtfs_duration_secs,
)

AS_OF = datetime(2024, 1, 15, 12, 0, 0, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def indexes(spark):
    t = G.spark_static(spark)
    return GtfsIndexes(
        t["stops"], t["routes"], t["trips"], t["stop_times"], t["calendar"],
        t["calendar_dates"],
    )


@pytest.fixture(scope="module")
def pipeline(indexes):
    return Gtfsrt2LCPipeline(indexes, deduce=True, as_of=AS_OF)


@pytest.fixture(scope="module")
def gap_connections(spark, pipeline):
    updates = decode_feed_df(G.spark_feed(spark, G.gap_feed()))
    return pipeline.connections(updates).collect()


def test_golden_gap_counts(gap_connections):
    """12 / 3 / 17 — the reference's strongest oracle (:420-422 analog)."""
    by_trip = {}
    for r in gap_connections:
        by_trip[r["trip_id"]] = by_trip.get(r["trip_id"], 0) + 1
    assert by_trip == G.GOLDEN_GAP_COUNTS


def test_connection_invariant(gap_connections):
    """departureTime <= arrivalTime on every connection (:161-192)."""
    assert gap_connections
    for r in gap_connections:
        assert r["departure_time"] <= r["arrival_time"], r


def test_delay_propagation_locf(gap_connections):
    """Gap-filled stops inherit the previous update's departure delay (W2)."""
    t13 = sorted(
        (r for r in gap_connections if r["trip_id"] == "T13"),
        key=lambda r: r["departure_time"],
    )
    # stops 2-4 inherit the +120s delay of the stop-1 update
    assert t13[1]["departure_delay"] == 120
    # after the stop-5 update (+300s) the tail inherits 300
    assert t13[-1]["departure_delay"] == 300


def test_cancellation_classification(spark, pipeline):
    """Exactly 9 CancelledConnections from the 10-stop cancelled trip (:515)."""
    updates = decode_feed_df(G.spark_feed(spark, G.cancellation_feed()))
    rows = pipeline.connections(updates).collect()
    cancelled = [r for r in rows if r["type"] == "CancelledConnection"]
    assert len(cancelled) == G.GOLDEN_CANCELLED


def test_no_start_date_uses_findTripStartDate(spark, pipeline):
    """Service day derived from calendar + as_of (:396-425); 12 connections."""
    updates = decode_feed_df(G.spark_feed(spark, G.no_start_date_feed()))
    rows = pipeline.connections(updates).collect()
    assert len(rows) == 12
    assert all(r["service_day"] == G.SERVICE_DAY for r in rows)


def test_plan_construction_is_lazy(spark, pipeline):
    """Building the connections plan must trigger ZERO Spark jobs — a
    mid-plan driver action (the old _deduce isEmpty probe) serializes plan
    construction and costs one job per conversion."""
    updates = decode_feed_df(G.spark_feed(spark, G.gap_feed()))
    sc = spark.sparkContext
    group = "plan-laziness-probe"
    sc.setJobGroup(group, "plan construction only")
    try:
        conns = pipeline.connections(updates)
        _ = conns.columns  # analysis only, no action
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setJobGroup(None, None)


def test_trip_deduction(spark, pipeline):
    """tripId-less updates resolve via route/direction/startTime/calendar,
    including the +24h rollover (:323-394)."""
    updates = decode_feed_df(G.spark_feed(spark, G.deduce_feed()))
    rows = pipeline.connections(updates).collect()
    trips = {r["trip_id"] for r in rows}
    # both T13 (weekday service) and T13W (weekend service, but *added* on
    # 20240115 via calendar_dates exception_type=1) are valid candidates;
    # the reference keeps the LAST match (:376,380) -> T13W (higher _pos)
    assert trips == {"T13W", "T25"}
    assert len([r for r in rows if r["trip_id"] == "T13W"]) == 12
    assert len([r for r in rows if r["trip_id"] == "T25"]) == 2


def test_history_idempotence(spark, pipeline, tmp_path):
    """Second identical run emits exactly 0 (ref :156)."""
    updates = decode_feed_df(G.spark_feed(spark, G.gap_feed()))
    conns = pipeline.connections(updates)
    store = HistoryStore(spark, str(tmp_path / "history"))
    fresh1 = store.filter_new(conns)
    n1 = fresh1.count()
    assert n1 == sum(G.GOLDEN_GAP_COUNTS.values())
    store.commit(fresh1)
    assert store.filter_new(pipeline.connections(updates)).count() == 0


_STATE_SCHEMA = (
    "rule_key string, service_day string, departure_delay bigint, "
    "arrival_delay bigint, type string"
)


def _states(spark, keys, day="20240115", dep=60, arr=60, typ="Connection"):
    return spark.createDataFrame(
        [(k, day, dep, arr, typ) for k in keys], _STATE_SCHEMA
    )


def _data_files(root):
    import pathlib

    return {
        str(p): p.read_bytes()
        for p in pathlib.Path(root).rglob("*.parquet")
        if p.is_file()
    }


def _manifest_files(root):
    import pathlib

    return sorted(p.name for p in pathlib.Path(root).glob("manifest-*"))


def _gen_dirs(root):
    import pathlib

    return sorted(p.name for p in (pathlib.Path(root) / "data").iterdir())


def _delays(store):
    return {r["rule_key"]: r["departure_delay"] for r in store.state().collect()}


def test_history_commit_writes_only_the_delta(spark, tmp_path):
    """A commit never touches existing files: the new state lands in a
    brand-new generation dir holding ONLY the committed delta, and every
    pre-existing parquet file stays byte-identical (the O(change) write
    contract, vs round-1's O(total history) rewrite)."""
    root = str(tmp_path / "hist")
    store = HistoryStore(spark, root)
    store.commit(_states(spark, [f"a{i}" for i in range(20)]))
    before = _data_files(root)
    assert before

    store.commit(_states(spark, [f"b{i}" for i in range(5)], dep=120))
    after = _data_files(root)
    for path, blob in before.items():
        assert path in after, f"pre-existing file removed: {path}"
        assert after[path] == blob, f"pre-existing file rewritten: {path}"

    # the new generation contains exactly the delta's rows
    gens = store._manifest()["generations"]
    assert gens == ["gen-000001", "gen-000002"]
    delta = spark.read.parquet(f"{root}/data/gen-000002")
    assert {(r["rule_key"], r["departure_delay"]) for r in delta.collect()} == {
        (f"b{i}", 120) for i in range(5)
    }
    assert store.state().count() == 25


def test_history_upsert_and_vacuum(spark, tmp_path):
    """Re-committing a key supersedes its old state; an orphan generation dir
    (crash after data write, before the manifest) is invisible to readers
    and cleaned by the next commit; an orphan squatting on the next
    generation's name is overwritten by the retry."""
    import pathlib

    root = str(tmp_path / "hist")
    store = HistoryStore(spark, root)
    store.commit(_states(spark, ["k1", "k2"], dep=10))
    store.commit(_states(spark, ["k1", "k2"], dep=99))  # supersede everything
    assert _delays(store) == {"k1": 99, "k2": 99}

    # crash simulation A: orphan generation written, manifest never written
    orphan = pathlib.Path(root) / "data" / "gen-999999"
    _states(spark, ["junk"]).write.parquet(str(orphan))
    assert store.state().count() == 2  # reader ignores the orphan
    store.commit(_states(spark, ["k3"], dep=5))
    assert not orphan.exists()  # next commit vacuums it
    assert store.state().count() == 3

    # crash simulation B: the orphan squats on the NEXT sequence's gen name
    # (crash mid-commit); the retry must overwrite it, not fail on
    # path-already-exists, and must not surface the orphan's junk rows
    m = store._manifest()
    colliding = pathlib.Path(root) / "data" / f"gen-{int(m['seq']) + 1:06d}"
    _states(spark, ["junk2"]).write.parquet(str(colliding))
    store.commit(_states(spark, ["k4"], dep=7))
    assert _delays(store) == {"k1": 99, "k2": 99, "k3": 5, "k4": 7}

    # stale manifests are vacuumed; data dirs are exactly the live ones
    assert _manifest_files(root) == [f"manifest-{store._manifest()['seq']:06d}.json"]
    assert _gen_dirs(root) == store._manifest()["generations"]


def test_history_empty_commit_writes_nothing(spark, tmp_path):
    """An empty delta commits nothing: no generation dir, no manifest."""
    root = str(tmp_path / "hist")
    store = HistoryStore(spark, root)
    store.commit(_states(spark, []))
    assert _manifest_files(root) == []
    store.commit(_states(spark, ["k1"]))
    store.commit(_states(spark, []))
    assert _manifest_files(root) == ["manifest-000001.json"]
    assert _gen_dirs(root) == ["gen-000001"]


def test_history_generations_stay_bounded(spark, tmp_path):
    """More commits than the generation cap, with overlapping keys: the live
    generation count never exceeds the cap, the state always equals a plain
    dict replay of the commits, and superseded generations and stale
    manifests are vacuumed."""
    from gtfsrt2lc_spark.plans.gtfs import MAX_GENERATIONS

    root = str(tmp_path / "hist")
    store = HistoryStore(spark, root)
    replay: dict[str, int] = {}
    compacted = False
    for i in range(2 * MAX_GENERATIONS + 3):
        keys = [f"k{j}" for j in range(i, i + 4)]  # 3 keys overlap the last commit
        store.commit(_states(spark, keys, dep=i))
        replay.update({k: i for k in keys})
        live = store._manifest()["generations"]
        assert 1 <= len(live) <= MAX_GENERATIONS
        compacted |= i > 0 and len(live) == 1
        assert _delays(store) == replay
        assert _gen_dirs(root) == live
        assert _manifest_files(root) == [f"manifest-{i + 1:06d}.json"]
    assert compacted


def test_history_crash_before_manifest(spark, pipeline, tmp_path, monkeypatch):
    """A crash after the delta write and before the manifest: the orphan is
    invisible to filter_new, the retry overwrites it and lands the same
    state as an uncrashed store, and no orphan survives the retry."""
    from gtfsrt2lc_spark.functions import hadoop_fs

    def crash(*_a, **_k):
        raise RuntimeError("injected crash before the manifest write")

    gap = pipeline.connections(decode_feed_df(G.spark_feed(spark, G.gap_feed())))
    cancel = pipeline.connections(
        decode_feed_df(G.spark_feed(spark, G.cancellation_feed()))
    )
    clean = HistoryStore(spark, str(tmp_path / "clean"))
    store = HistoryStore(spark, str(tmp_path / "hist"))
    for s in (clean, store):
        s.commit(s.filter_new(gap))
    n_fresh = clean.filter_new(cancel).count()
    assert n_fresh > 0
    clean.commit(clean.filter_new(cancel))

    with monkeypatch.context() as m:
        m.setattr(hadoop_fs, "write_text_atomic", crash)
        with pytest.raises(RuntimeError, match="injected"):
            store.commit(store.filter_new(cancel))
    assert _gen_dirs(store.path) == ["gen-000001", "gen-000002"]  # the orphan
    assert store._manifest()["generations"] == ["gen-000001"]
    assert store.filter_new(cancel).count() == n_fresh

    store.commit(store.filter_new(cancel))  # the retry
    assert store.filter_new(cancel).count() == 0
    assert set(store.state().collect()) == set(clean.state().collect())
    assert _gen_dirs(store.path) == store._manifest()["generations"]


def test_history_crash_during_compaction(spark, tmp_path, monkeypatch):
    """The same crash point during a compaction: the pre-compaction store
    stays live, the retry compacts to the same state, and the superseded
    generations are vacuumed."""
    from gtfsrt2lc_spark.functions import hadoop_fs
    from gtfsrt2lc_spark.plans.gtfs import MAX_GENERATIONS

    def crash(*_a, **_k):
        raise RuntimeError("injected crash before the manifest write")

    root = str(tmp_path / "hist")
    store = HistoryStore(spark, root)
    replay: dict[str, int] = {}
    for i in range(MAX_GENERATIONS):
        store.commit(_states(spark, [f"k{i}", "shared"], dep=i))
        replay.update({f"k{i}": i, "shared": i})
    live = store._manifest()["generations"]
    assert len(live) == MAX_GENERATIONS  # the next commit compacts

    with monkeypatch.context() as m:
        m.setattr(hadoop_fs, "write_text_atomic", crash)
        with pytest.raises(RuntimeError, match="injected"):
            store.commit(_states(spark, ["shared", "new"], dep=100))
    assert store._manifest()["generations"] == live
    assert _delays(store) == replay  # the compacted orphan is invisible

    store.commit(_states(spark, ["shared", "new"], dep=100))
    replay.update({"shared": 100, "new": 100})
    assert _delays(store) == replay
    assert _gen_dirs(root) == store._manifest()["generations"] == [
        f"gen-{MAX_GENERATIONS + 1:06d}"
    ]


def test_history_commit_is_crash_recoverable(spark, tmp_path):
    """The manifest write IS the commit point: a completed manifest that a
    crash left un-vacuumed is simply the live store; a partial .tmp from a
    crashed manifest write is ignored."""
    import pathlib

    root = str(tmp_path / "hist")
    store = HistoryStore(spark, root)
    store.commit(_states(spark, ["k1"], dep=10))
    store.commit(_states(spark, ["k1"], dep=99), vacuum=False)  # crash before vacuum
    fresh = HistoryStore(spark, root)
    assert {r["departure_delay"] for r in fresh.state().collect()} == {99}
    (pathlib.Path(root) / "manifest-999999.json.tmp").write_text("{parti")
    assert {r["departure_delay"] for r in fresh.state().collect()} == {99}


def test_history_manifest_sequence_parses_numerically(spark, tmp_path):
    """Past seq 999999 the %06d name stops zero-padding; the live manifest
    must be the max PARSED sequence, not the lexicographic max."""
    import json as _json

    root = tmp_path / "hist"
    root.mkdir()
    for seq in (999999, 1000000):
        (root / f"manifest-{seq:06d}.json").write_text(
            _json.dumps({"seq": seq, "generations": []})
        )
    store = HistoryStore(spark, str(root))
    assert store._manifest()["seq"] == 1000000


def test_history_corruption_surfaces(spark, pipeline, tmp_path):
    """A manifest referencing missing generation data, or one in the retired
    bucketed layout, raises instead of silently resetting differential
    history (which would re-emit every connection)."""
    import json as _json

    root = str(tmp_path / "hist")
    store = HistoryStore(spark, root)
    store.commit(_states(spark, ["k1"]))
    conns = pipeline.connections(decode_feed_df(G.spark_feed(spark, G.gap_feed())))
    corrupt = [
        ({"seq": 999998, "generations": ["gen-999998"]}, Exception, ""),
        (
            {"n_buckets": 64, "seq": 999999, "gens": {"gen-999999": [0, 5]}},
            ValueError,
            "bucketed layout",
        ),
    ]
    for manifest, exc, match in corrupt:
        (tmp_path / "hist" / f"manifest-{manifest['seq']}.json").write_text(
            _json.dumps(manifest)
        )
        with pytest.raises(exc, match=match):
            store.state().collect()
        with pytest.raises(exc, match=match):
            store.filter_new(conns).count()


def test_quads_shape(spark, pipeline):
    """12 RDF triples per connection with the reference predicates (S10)."""
    from gtfsrt2lc_spark.sources.gtfs_serializers import LC, connections_to_quads

    updates = decode_feed_df(G.spark_feed(spark, G.gap_feed()))
    conns = pipeline.connections(updates)
    quads = connections_to_quads(conns, DEFAULT_URIS)
    n_conns = sum(G.GOLDEN_GAP_COUNTS.values())
    assert quads.count() == 12 * n_conns
    preds = {r["pred"] for r in quads.select("pred").distinct().collect()}
    assert LC + "departureStop" in preds and LC + "arrivalTime" in preds
    one = quads.where(F.col("pred") == LC + "departureTime").first()
    assert one["obj_datatype"] == "http://www.w3.org/2001/XMLSchema#dateTime"
    assert one["obj"].endswith("Z") and "T" in one["obj"]


def test_jsonld_and_csv_lines(spark, pipeline):
    from gtfsrt2lc_spark.sources.gtfs_serializers import (
        connections_to_csv_lines,
        connections_to_jsonld_lines,
    )
    import json

    updates = decode_feed_df(G.spark_feed(spark, G.gap_feed()))
    conns = pipeline.connections(updates)
    node = json.loads(connections_to_jsonld_lines(conns, DEFAULT_URIS).first()["line"])
    assert node["@type"] in ("Connection", "CancelledConnection")
    assert node["departureStop"].startswith("http://example.org/stations/")
    assert node["gtfs:pickupType"] == "gtfs:Regular"
    csv = connections_to_csv_lines(conns).first()["line"]
    assert csv.count(",") == 9


def test_uri_templates_defaults(spark, pipeline):
    """Default templates incl. resolve exprs compile and fill (ref :34-45)."""
    from gtfsrt2lc_spark.sources.gtfs_serializers import with_connection_uris

    updates = decode_feed_df(G.spark_feed(spark, G.gap_feed()))
    conns = pipeline.connections(updates).where(F.col("trip_id") == "T13")
    row = with_connection_uris(conns, DEFAULT_URIS).select(
        "connectionURI", "routeURI", "tripURI", "departureStopURI"
    ).first()
    assert row["routeURI"] == "http://example.org/routes/AirportExpressLine/R1"
    assert row["tripURI"].startswith("http://example.org/trips/T13/IC1R1/20240115T08")
    assert row["departureStopURI"].startswith("http://example.org/stations/S")
    assert row["connectionURI"].startswith("http://example.org/connections/IC1R1/S")


# ---- unit tests on the repair kernel (ref :607-640) -----------------------

DAY0 = G.DAY0


def _st(seq, arr_min, dep_min):
    return {
        "stop_sequence": seq, "stop_id": f"S{seq:02d}",
        "arrival_time": f"{arr_min // 60:02d}:{arr_min % 60:02d}:00",
        "departure_time": f"{dep_min // 60:02d}:{dep_min % 60:02d}:00",
        "pickup_type": "0", "drop_off_type": "0",
    }


def _live(**kw):
    base = {"stop_sequence": None, "stop_id": None, "arrival_delay": None,
            "arrival_time": None, "departure_delay": None,
            "departure_time": None, "schedule_relationship": None}
    base.update(kw)
    return base


def test_check_update_materializes_times():
    """Delay-only update -> times derived from static schedule (W5)."""
    st = _st(1, 480, 481)
    got = _check_update(_live(stop_id="S01", departure_delay=120), None, st, 0, 5, DAY0, 0)
    assert got["dep_time"] == DAY0 + 481 * 60 + 120
    assert got["dep_delay"] == 120


def test_check_update_derives_delay_from_time():
    """Time-only update -> delay := live - static (W4)."""
    st = _st(2, 490, 491)
    live_t = DAY0 + 491 * 60 + 240
    got = _check_update(_live(stop_id="S02", departure_time=live_t), None, st, 1, 5, DAY0, 0)
    assert got["dep_delay"] == 240


def test_check_update_fact_rewrites_previous():
    """Missing arrival + inconsistency + dep in the past (fact) ->
    previous departure rewritten retroactively (W7, :612-621)."""
    st = _st(3, 500, 501)
    prev = {"stopId": "S02", "dep_delay": 600,
            "dep_time": DAY0 + 495 * 60 + 600, "arr_delay": 600,
            "arr_time": DAY0 + 494 * 60 + 600, "schedRel": None}
    live = _live(stop_id="S03", departure_delay=60,
                 departure_time=DAY0 + 501 * 60 + 60)
    ts_future_feed = DAY0 + 520 * 60  # feed ts after this dep -> fact
    got = _check_update(live, prev, st, 2, 5, DAY0, ts_future_feed)
    assert got["arr_delay"] == 60
    assert prev["dep_delay"] == 60  # retroactive rewrite
    assert prev["dep_time"] == DAY0 + 495 * 60 + 60


def test_check_update_prediction_trusts_previous():
    """Same shape but dep in the future (prediction) -> this stop inherits
    the previous delay instead (W7, :622-633)."""
    st = _st(3, 500, 501)
    prev = {"stopId": "S02", "dep_delay": 600,
            "dep_time": DAY0 + 495 * 60 + 600, "arr_delay": 600,
            "arr_time": DAY0 + 494 * 60 + 600, "schedRel": None}
    live = _live(stop_id="S03", departure_delay=60,
                 departure_time=DAY0 + 501 * 60 + 60)
    ts_past_feed = DAY0  # feed ts before this dep -> prediction
    got = _check_update(live, prev, st, 2, 5, DAY0, ts_past_feed)
    assert got["dep_delay"] == 600
    assert got["arr_delay"] == 600
    assert prev["dep_delay"] == 600  # untouched


def test_duration_parse_over_24h(spark):
    """F1: hours beyond 23 must parse (service-day rollover)."""
    df = spark.createDataFrame([("25:10:00",), ("08:05",), ("00:00:30",)], "d string")
    got = [r["s"] for r in df.select(parse_gtfs_duration_secs(F.col("d")).alias("s")).collect()]
    assert got == [25 * 3600 + 10 * 60, 8 * 3600 + 5 * 60, 30]


def test_schedule_relationship_iris(spark):
    """F8: all four codes (ref :724-742 analog)."""
    from gtfsrt2lc_spark.sources.gtfs_serializers import schedule_relationship_iri

    df = spark.createDataFrame([("0",), ("1",), ("2",), ("3",), (None,)], "c string")
    got = [r["i"] for r in df.select(schedule_relationship_iri(F.col("c")).alias("i")).collect()]
    assert got == ["gtfs:Regular", "gtfs:NotAvailable", "gtfs:MustPhone",
                   "gtfs:MustCoordinateWithDriver", "gtfs:Regular"]


def test_turtle_output(spark, pipeline):
    """Turtle format with the reference's prefix set (ref format dispatch,
    lib/Gtfsrt2LC.js:254-261: StreamWriter with xsd/lc/gtfs prefixes)."""
    from gtfsrt2lc_spark.sources.gtfs_serializers import connections_to_quads
    from gtfsrt2lc_spark.sources.nquads import to_turtle_lines

    updates = decode_feed_df(G.spark_feed(spark, G.gap_feed()))
    conns = pipeline.connections(updates)
    quads = connections_to_quads(conns, DEFAULT_URIS)
    lines = [r["line"] for r in to_turtle_lines(quads, obj_datatype="obj_datatype").collect()]
    assert len(lines) == 12 * sum(G.GOLDEN_GAP_COUNTS.values())
    assert any(" lc:departureStop " in l for l in lines)
    assert any('^^xsd:dateTime .' in l for l in lines)
    assert any(" gtfs:pickupType gtfs:Regular ." in l for l in lines)
