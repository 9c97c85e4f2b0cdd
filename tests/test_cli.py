"""CLI parity tests (ref bin/gtfsrt2lc.js / bin/gtfsrt2json.js).

Store-equivalence here mirrors the reference's MemStore vs grep vs LevelStore
triple-run of the gap test (test/gtfsrt2lc.test.js:394-485): every strategy
must yield the identical connection set.
"""

from __future__ import annotations

import csv
import io
import json
import os
import shutil

import pytest

from gtfsrt2lc_spark.cli import main
from gtfsrt2lc_spark.fixtures.gtfs import gap_feed, static_tables


@pytest.fixture(scope="module")
def staged(tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    static_dir = root / "static"
    static_dir.mkdir()
    for name, rows in static_tables().items():
        cols = list(rows[0].keys())
        buf = io.StringIO()
        w = csv.DictWriter(buf, fieldnames=cols)
        w.writeheader()
        w.writerows(rows)
        (static_dir / f"{name}.txt").write_text(buf.getvalue())
    feed = root / "feed.pb"
    feed.write_bytes(gap_feed())
    return root


def _lines(out_dir) -> list[str]:
    lines = []
    for part in sorted(os.listdir(out_dir)):
        if part.startswith("part-"):
            with open(os.path.join(out_dir, part)) as f:
                lines += [ln for ln in f.read().splitlines() if ln]
    return lines


def _rt2lc(spark, feed, static, out, *extra) -> list[str]:
    rc = main(
        ["rt2lc", "-r", str(feed), "-s", str(static), "-o", str(out), *extra],
        spark=spark,
    )
    assert rc == 0
    return _lines(out)


def _run(staged, spark, out, *extra) -> list[str]:
    return _rt2lc(spark, staged / "feed.pb", staged / "static", out, *extra)


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _index_state(capsys) -> str:
    """'built' or 'reused', from the last poll's indexing line on stderr."""
    lines = [ln for ln in capsys.readouterr().err.splitlines()
             if ln.startswith("GTFS indexing process took")]
    return lines[-1].rsplit("(", 1)[1].rstrip(")")


def _zip_static(staged, zpath):
    import zipfile

    with zipfile.ZipFile(zpath, "w") as z:
        for f in os.listdir(staged / "static"):
            z.write(staged / "static" / f, arcname=f)
    return zpath


def test_cli_json_strategies_equivalent(staged, spark, tmp_path):
    base = _run(staged, spark, tmp_path / "mem", "-f", "json")
    assert len(base) > 0
    grep = _run(staged, spark, tmp_path / "grep", "-f", "json", "-g")
    level = _run(staged, spark, tmp_path / "level", "-f", "json", "-S", "LevelStore")
    assert sorted(base) == sorted(grep) == sorted(level)
    rec = json.loads(base[0])
    assert rec["type"] in ("Connection", "CancelledConnection")
    assert rec["departureTime"] <= rec["arrivalTime"]


def test_cli_ntriples_parses(staged, spark, tmp_path):
    from gtfsrt2lc_spark.sources.nquads import read_nquads

    out = tmp_path / "nt"
    lines = _run(staged, spark, out, "-f", "ntriples")
    assert all(ln.endswith(" .") for ln in lines)
    parsed = read_nquads(spark, str(out))
    assert parsed.where("subj IS NULL OR pred IS NULL OR obj IS NULL").count() == 0
    assert parsed.count() == len(lines)


def test_cli_csv_and_turtle_sidecars(staged, spark, tmp_path):
    out_csv = tmp_path / "csv"
    lines = _run(staged, spark, out_csv, "-f", "csv")
    assert len(lines) > 0 and all(ln.count(",") >= 9 for ln in lines)
    assert (out_csv / "header.csv").exists()

    out_ttl = tmp_path / "ttl"
    tlines = _run(staged, spark, out_ttl, "-f", "turtle")
    assert (out_ttl / "prefixes.ttl").exists()
    assert any("lc:" in ln for ln in tlines)


def test_cli_history_second_run_emits_zero(staged, spark, tmp_path):
    hist = str(tmp_path / "history")
    first = _run(staged, spark, tmp_path / "h1", "-f", "json", "--history", hist)
    assert len(first) > 0
    second = _run(staged, spark, tmp_path / "h2", "-f", "json", "--history", hist)
    # ref test/gtfsrt2lc.test.js:156 — identical re-run emits 0
    assert len(second) == 0


def test_cli_rt2json(staged, capsys):
    rc = main(["rt2json", "-r", str(staged / "feed.pb")])
    assert rc == 0
    feed = json.loads(capsys.readouterr().out)
    assert len(feed["entities"]) > 0
    assert feed["entities"][0]["trip_update"] is not None


def test_cli_static_zip(staged, spark, tmp_path):
    zpath = _zip_static(staged, tmp_path / "gtfs.zip")
    assert len(_rt2lc(spark, staged / "feed.pb", zpath, tmp_path / "zout", "-f", "json")) > 0


def test_cli_error_paths(staged, spark, tmp_path):
    # nonexistent RT feed throws (ref test/gtfsrt2lc.test.js:642-657)
    with pytest.raises(Exception):
        main(
            ["rt2lc", "-r", str(tmp_path / "missing.pb"), "-s", str(staged / "static"),
             "-o", str(tmp_path / "e1")],
            spark=spark,
        )
    # missing static table throws (ref :659-675)
    bad_static = tmp_path / "bad_static"
    bad_static.mkdir()
    (bad_static / "stops.txt").write_text("stop_id\nS1\n")
    with pytest.raises(FileNotFoundError):
        main(
            ["rt2lc", "-r", str(staged / "feed.pb"), "-s", str(bad_static),
             "-o", str(tmp_path / "e2")],
            spark=spark,
        )


def test_cli_history_polls_release_their_cache(staged, spark, tmp_path):
    """Each --history poll persists its fresh connections for the output
    write and the commit, then unpersists them; the static indexes stay
    persisted for the next poll. After one warm-up poll, N polls on one
    long-lived session leave the persisted-RDD count where it was, and
    everything the polls left persisted is the index frames."""
    from gtfsrt2lc_spark.cli import _STATIC_INDEXES

    _STATIC_INDEXES.release()
    empty = _persistent_ids(spark)
    hist = str(tmp_path / "history")
    _run(staged, spark, tmp_path / "warm", "-f", "json", "--history", hist)
    added = _persistent_ids(spark) - empty
    # every index frame but calendar_dates, which only -d reads
    assert len(added) == len(_STATIC_INDEXES._indexes._frames()) - 1
    before = len(_persistent_ids(spark))
    for i in range(3):
        _run(staged, spark, tmp_path / f"p{i}", "-f", "json", "--history", hist)
        assert len(_persistent_ids(spark)) == before
    _STATIC_INDEXES.release()
    assert _persistent_ids(spark) == empty


def test_cli_crash_in_output_write_keeps_history(staged, spark, tmp_path, monkeypatch):
    """The output is written before the history commit: a crash in the
    output write (after filter_new) commits nothing, so the re-poll
    re-emits the full set, and the crashed poll's cache is still released."""
    import gtfsrt2lc_spark.cli as cli

    full = _run(staged, spark, tmp_path / "plain", "-f", "json")
    hist = str(tmp_path / "history")
    real = cli._write_json

    def crash(conns, out):
        real(conns, out)
        raise RuntimeError("injected crash in the output write")

    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = persistent().size()
    with monkeypatch.context() as m:
        m.setattr(cli, "_write_json", crash)
        with pytest.raises(RuntimeError, match="injected"):
            _run(staged, spark, tmp_path / "crashed", "-f", "json", "--history", hist)
    assert persistent().size() == before
    again = _run(staged, spark, tmp_path / "again", "-f", "json", "--history", hist)
    assert sorted(again) == sorted(full)
    assert _run(staged, spark, tmp_path / "zero", "-f", "json", "--history", hist) == []


def test_cli_static_edit_rebuilds_indexes(staged, spark, tmp_path, capsys):
    """An unchanged bundle reuses the persisted indexes; a rewritten
    stops.txt (new stop_name, new mtime) is rebuilt on the next poll."""
    static = tmp_path / "static"
    shutil.copytree(staged / "static", static)
    feed = staged / "feed.pb"
    first = _rt2lc(spark, feed, static, tmp_path / "o1", "-f", "json")
    assert _index_state(capsys) == "built"
    assert sorted(_rt2lc(spark, feed, static, tmp_path / "o2", "-f", "json")) == sorted(first)
    assert _index_state(capsys) == "reused"

    stops = static / "stops.txt"
    mtime = stops.stat().st_mtime_ns
    stops.write_text(stops.read_text().replace("Station ", "Gare "))
    os.utime(stops, ns=(mtime + 10**9, mtime + 10**9))
    edited = _rt2lc(spark, feed, static, tmp_path / "o3", "-f", "json")
    assert _index_state(capsys) == "built"
    names = {json.loads(ln)["departureStop"]["stop_name"] for ln in edited}
    assert names and all(n.startswith("Gare ") for n in names)
    assert len(edited) == len(first)


def test_cli_alternating_bundles_keep_one_persisted(staged, spark, tmp_path, capsys):
    """Polls alternating between a dir and a zip bundle rebuild on every
    switch and never hold more than one bundle's index frames."""
    from gtfsrt2lc_spark.cli import _STATIC_INDEXES

    zpath = _zip_static(staged, tmp_path / "gtfs.zip")
    _STATIC_INDEXES.release()
    base = len(_persistent_ids(spark))
    outs = []
    for i, static in enumerate([staged / "static", zpath] * 2):
        outs.append(sorted(_rt2lc(spark, staged / "feed.pb", static, tmp_path / f"o{i}")))
        assert _index_state(capsys) == "built"
        frames = len(_STATIC_INDEXES._indexes._frames())
        assert base < len(_persistent_ids(spark)) <= base + frames
    _rt2lc(spark, staged / "feed.pb", zpath, tmp_path / "again")
    assert _index_state(capsys) == "reused"
    assert all(o == outs[0] for o in outs) and outs[0]


def test_cli_strategies_equivalent_on_cache_hit(staged, spark, tmp_path, capsys):
    """Output over reused indexes equals output over freshly built ones:
    json, -g and -S LevelStore after a warm poll, and -d."""
    from gtfsrt2lc_spark.cli import _STATIC_INDEXES
    from gtfsrt2lc_spark.fixtures.gtfs import deduce_feed

    _STATIC_INDEXES.release()
    cold = _run(staged, spark, tmp_path / "cold", "-f", "json")
    assert _index_state(capsys) == "built"
    test_cli_json_strategies_equivalent(staged, spark, tmp_path)
    assert "(built)" not in capsys.readouterr().err
    assert sorted(_lines(tmp_path / "mem")) == sorted(cold)

    feed = tmp_path / "deduce.pb"
    feed.write_bytes(deduce_feed())
    _STATIC_INDEXES.release()
    deduced = _rt2lc(spark, feed, staged / "static", tmp_path / "d1", "-f", "json", "-d")
    assert _index_state(capsys) == "built"
    again = _rt2lc(spark, feed, staged / "static", tmp_path / "d2", "-f", "json", "-d")
    assert _index_state(capsys) == "reused"
    assert deduced and sorted(again) == sorted(deduced)


def test_cli_static_cache_is_per_application(staged, spark, tmp_path, capsys, monkeypatch):
    """An entry cached under one Spark application is never served to
    another: after a restart (a new application id) the poll rebuilds."""
    from pyspark import SparkContext

    from gtfsrt2lc_spark.cli import _STATIC_INDEXES

    expected = _run(staged, spark, tmp_path / "o1")
    old = _STATIC_INDEXES._indexes
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "applicationId", property(lambda sc: "app-after-restart"))
        capsys.readouterr()
        assert sorted(_run(staged, spark, tmp_path / "o2")) == sorted(expected)
        assert _index_state(capsys) == "built"
        assert _STATIC_INDEXES._indexes is not old
        _STATIC_INDEXES.release()
    # a real restart drops the old application's blocks with its context
    old.unpersist()
