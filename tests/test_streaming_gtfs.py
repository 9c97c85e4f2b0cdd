"""Streaming GTFS-RT poll mode (ref lib/catchCancelled.js:12-32): indexes
built once, feeds dropped into a watched dir, differential emit per poll."""

from __future__ import annotations

import pytest

from gtfsrt2lc_spark.fixtures import gtfs as G
from gtfsrt2lc_spark.functions.gtfsrt_proto import encode_feed
from gtfsrt2lc_spark.plans.gtfs import GtfsIndexes, Gtfsrt2LCPipeline, HistoryStore
from gtfsrt2lc_spark.streaming.gtfs import (
    read_stream_connections,
    stream_feeds_to_connections,
)

AS_OF = __import__("datetime").datetime(2024, 1, 15, 9, 0, 0)


@pytest.fixture(scope="module")
def pipeline(spark):
    t = G.spark_static(spark)
    idx = GtfsIndexes(
        stops=t["stops"], routes=t["routes"], trips=t["trips"],
        stop_times=t["stop_times"], calendar=t["calendar"],
        calendar_dates=t.get("calendar_dates"),
    )
    return Gtfsrt2LCPipeline(idx, deduce=True, as_of=AS_OF)


def _drain(spark, feed_dir, pipeline, store, out, ckpt):
    q = stream_feeds_to_connections(
        spark, feed_dir, pipeline, store, out, ckpt, available_now=True
    )
    # stop a query that outlives the wait, so no micro-batch keeps running
    # (and writing) behind the assertions that follow
    try:
        drained = q.awaitTermination(300)
    finally:
        if q.isActive:
            q.stop()
    assert drained, "stream did not drain within 300 s"


def test_poll_mode_differential(spark, pipeline, tmp_path):
    feed_dir = tmp_path / "feeds"
    feed_dir.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    store = HistoryStore(spark, str(tmp_path / "history"))

    # poll 1: fresh feed -> emits connections
    (feed_dir / "poll1.pb").write_bytes(G.gap_feed())
    _drain(spark, str(feed_dir), pipeline, store, out, ckpt)
    n1 = read_stream_connections(spark, out).count()
    assert n1 > 0

    # poll 2: identical feed re-polled -> emits 0 (ref test :156)
    (feed_dir / "poll2.pb").write_bytes(G.gap_feed())
    _drain(spark, str(feed_dir), pipeline, store, out, ckpt)
    assert read_stream_connections(spark, out).count() == n1

    # poll 3: cancellation feed arrives -> only the changed/new rows emit,
    # and the cancellations are visible (the catchCancelled.js use case)
    (feed_dir / "poll3.pb").write_bytes(G.cancellation_feed())
    _drain(spark, str(feed_dir), pipeline, store, out, ckpt)
    allc = read_stream_connections(spark, out)
    n3 = allc.count()
    assert n3 > n1
    cancelled = allc.where("type = 'CancelledConnection'").count()
    assert cancelled == 9  # golden count (ref test :515)


def test_many_feeds_one_microbatch(spark, pipeline, tmp_path):
    """20+ feed files landing in ONE micro-batch are processed in one pass
    (single decode/convert plan, single store scan/commit) with sequential
    differential semantics: only the polls where state actually changed
    emit rows, in poll order."""
    feed_dir = tmp_path / "feeds"
    feed_dir.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    store = HistoryStore(spark, str(tmp_path / "history"))

    # polls 0-9: identical gap feeds; polls 10-19: identical cancellations.
    # zero-padded names make (modificationTime, path) sort == poll order.
    for i in range(10):
        (feed_dir / f"poll{i:02d}.pb").write_bytes(G.gap_feed())
    for i in range(10, 20):
        (feed_dir / f"poll{i:02d}.pb").write_bytes(G.cancellation_feed())
    _drain(spark, str(feed_dir), pipeline, store, out, ckpt)

    allc = read_stream_connections(spark, out)
    by_epoch = {
        r["epoch"]: r["n"]
        for r in allc.groupBy("epoch").count().withColumnRenamed("count", "n").collect()
    }
    # only poll 0 (first state) and poll 10 (first change) emit
    assert set(by_epoch) == {"0-0", "0-10"}, by_epoch
    assert by_epoch["0-0"] > 0 and by_epoch["0-10"] > 0
    assert allc.where("type = 'CancelledConnection'").count() == 9

    # a later re-poll of the final state emits nothing (store committed once)
    (feed_dir / "poll20.pb").write_bytes(G.cancellation_feed())
    _drain(spark, str(feed_dir), pipeline, store, out, ckpt)
    assert read_stream_connections(spark, out).count() == sum(by_epoch.values())


def _t04_feed(arrival_delay: int) -> bytes:
    """One-trip feed: T04 with an arrival-only update at stop 2."""
    return encode_feed(G.HEADER_TS, [{"entity_id": "e-t04", "trip_update": {
        "trip": {"trip_id": "T04", "start_date": G.SERVICE_DAY},
        "stop_time_updates": [{"stop_sequence": 2, "arrival_delay": arrival_delay}],
    }}])


def _rows_by_poll(spark, pipeline, root, feeds, one_batch: bool) -> dict:
    """Drain ``feeds`` (in poll order) through a fresh stream and store,
    either all in one micro-batch or one file per micro-batch; returns the
    emitted rows keyed by poll index."""
    feed_dir = root / "feeds"
    feed_dir.mkdir(parents=True)
    out, ckpt = str(root / "out"), str(root / "ckpt")
    store = HistoryStore(spark, str(root / "history"))
    for i, payload in enumerate(feeds):
        (feed_dir / f"poll{i:02d}.pb").write_bytes(payload)
        if not one_batch:
            _drain(spark, str(feed_dir), pipeline, store, out, ckpt)
    if one_batch:
        _drain(spark, str(feed_dir), pipeline, store, out, ckpt)
    got = {}
    for r in read_stream_connections(spark, out).collect():
        d = r.asDict()
        # one batch: epoch "0-<i>"; one file per batch: epoch "<i>-0"
        batch, poll = map(int, d.pop("epoch").split("-"))
        got.setdefault(poll if one_batch else batch, []).append(tuple(sorted(d.items())))
    return {k: sorted(v) for k, v in got.items()}


def test_one_microbatch_matches_sequential(spark, pipeline, tmp_path):
    """The one-pass batched differential must equal draining the same feed
    sequence one file per micro-batch (the reference's sequential poll loop),
    including re-emission when a state changes back."""
    gap, cancel = G.gap_feed(), G.cancellation_feed()
    t04 = [_t04_feed(ad) for ad in (60, 120, 120, 60)]
    for name, feeds in (("mixed", [gap, cancel, cancel, gap]), ("t04", t04)):
        batch = _rows_by_poll(spark, pipeline, tmp_path / name / "batch", feeds, True)
        seq = _rows_by_poll(spark, pipeline, tmp_path / name / "seq", feeds, False)
        assert batch == seq, name
    # 60 -> 120 -> 120 (unchanged) -> 60 (changed back)
    assert set(batch) == {0, 1, 3}, batch


def test_cli_poll_matches_stream(spark, pipeline, tmp_path):
    """``rt2lc --history`` polled once per feed emits, poll by poll, the
    connections one stream micro-batch over the same feeds emits."""
    import csv
    import json
    from datetime import datetime, timezone

    from gtfsrt2lc_spark.cli import main

    static = tmp_path / "static"
    static.mkdir()
    for name, rows in G.static_tables().items():
        with open(static / f"{name}.txt", "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=list(rows[0]))
            w.writeheader()
            w.writerows(rows)
    feeds = [_t04_feed(ad) for ad in (60, 120, 120, 60)]

    def iso_secs(s: str) -> int:
        t = datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
        return int(t.replace(tzinfo=timezone.utc).timestamp())

    cli = {}
    for i, payload in enumerate(feeds):
        feed, out = tmp_path / f"poll{i}.pb", tmp_path / f"cli{i}"
        feed.write_bytes(payload)
        assert main([
            "rt2lc", "-r", str(feed), "-s", str(static), "-o", str(out), "-f", "json",
            "-d", "--as-of", AS_OF.isoformat(), "--history", str(tmp_path / "history"),
        ], spark=spark) == 0
        recs = [json.loads(ln) for p in sorted(out.glob("part-*"))
                for ln in p.read_text().splitlines() if ln]
        if recs:
            cli[i] = sorted(
                (r["departureStop"]["stop_id"], r["arrivalStop"]["stop_id"],
                 iso_secs(r["departureTime"]), iso_secs(r["arrivalTime"]), r["type"])
                for r in recs
            )

    cols = ("departure_stop", "arrival_stop", "departure_time", "arrival_time", "type")
    stream = {
        i: sorted(tuple(dict(row)[c] for c in cols) for row in rows)
        for i, rows in _rows_by_poll(spark, pipeline, tmp_path / "stream", feeds, True).items()
    }
    assert cli == stream
    assert set(cli) == {0, 1, 3}


def test_glob_metachar_feed_filename(spark, pipeline, tmp_path):
    """A feed file whose name contains glob metacharacters must still be read
    exactly (the direct per-file load escapes Hadoop's pattern syntax)."""
    feed_dir = tmp_path / "feeds"
    feed_dir.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    store = HistoryStore(spark, str(tmp_path / "history"))

    (feed_dir / "feed[1]{a}.pb").write_bytes(G.gap_feed())
    _drain(spark, str(feed_dir), pipeline, store, out, ckpt)
    assert read_stream_connections(spark, out).count() > 0


def test_glob_escape_unit():
    from gtfsrt2lc_spark.streaming.gtfs import _glob_escape

    assert _glob_escape("/d/feed[1]{a}*?.pb") == r"/d/feed\[1\]\{a\}\*\?.pb"
    assert _glob_escape("/plain/path.pb") == "/plain/path.pb"


def test_all_suppressed_stream_reads_empty(spark, pipeline, tmp_path):
    """A stream whose EVERY micro-batch is fully differential-suppressed
    (re-polled feed whose state the store already holds) never creates its
    out_dir; reading it must yield 0 rows with the normal columns, not
    PATH_NOT_FOUND — the documented all-empty contract."""
    import os

    store = HistoryStore(spark, str(tmp_path / "history"))
    warm = tmp_path / "feeds_warm"
    warm.mkdir()
    (warm / "poll1.pb").write_bytes(G.gap_feed())
    _drain(spark, str(warm), pipeline, store,
           str(tmp_path / "warm_out"), str(tmp_path / "warm_ckpt"))

    # identical feed, FRESH out/ckpt: 0 fresh rows in every batch
    feeds = tmp_path / "feeds"
    feeds.mkdir()
    (feeds / "poll1.pb").write_bytes(G.gap_feed())
    out = str(tmp_path / "out")
    _drain(spark, str(feeds), pipeline, store, out, str(tmp_path / "ckpt"))

    assert not os.path.exists(out)  # nothing was ever fresh
    df = read_stream_connections(spark, out)
    assert df.count() == 0
    assert "epoch" in df.columns and "trip_id" in df.columns
