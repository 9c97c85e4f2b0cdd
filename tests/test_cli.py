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


def _run(staged, spark, out, *extra) -> list[str]:
    rc = main(
        [
            "rt2lc",
            "-r", str(staged / "feed.pb"),
            "-s", str(staged / "static"),
            "-o", str(out),
            *extra,
        ],
        spark=spark,
    )
    assert rc == 0
    return _lines(out)


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
    import zipfile

    zpath = tmp_path / "gtfs.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in os.listdir(staged / "static"):
            z.write(staged / "static" / f, arcname=f)
    rc = main(
        [
            "rt2lc",
            "-r", str(staged / "feed.pb"),
            "-s", str(zpath),
            "-o", str(tmp_path / "zout"),
            "-f", "json",
        ],
        spark=spark,
    )
    assert rc == 0
    assert len(_lines(tmp_path / "zout")) > 0


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
    write and the commit, then unpersists them: N polls on one long-lived
    session leave the persisted-RDD count where it started."""
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = persistent().size()
    hist = str(tmp_path / "history")
    for i in range(3):
        _run(staged, spark, tmp_path / f"p{i}", "-f", "json", "--history", hist)
        assert persistent().size() == before


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
