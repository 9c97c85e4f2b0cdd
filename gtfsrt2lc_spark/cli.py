"""Command-line interface — parity with the reference's ``bin/`` tools.

Two subcommands mirroring the reference CLIs:

``rt2lc`` (ref bin/gtfsrt2lc.js:9-19 option surface)
    -r/--real-time   URL, path, or glob to binary GTFS-RT feed file(s)
    -s/--static      URL or path to static GTFS: a dir of .txt files or a .zip
    -u/--uris-template  JSON file with RFC-6570 URI templates (+ resolve map)
    -H/--headers     JSON string of extra HTTP headers for URL inputs
                     (ref bin/gtfsrt2lc.js:13,50-58)
    -f/--format      json | jsonld | csv | turtle | ntriples  (default json)
    -S/--store       MemStore (broadcast dims) | LevelStore (shuffle joins)
    -g/--grep        prune static tables to RT-updated trips (semi-join; the
                     Spark analog of the reference's grep scan,
                     lib/GtfsIndex.js:264-307)
    -d/--deduce      deduce missing trip_ids (ref lib/Gtfsrt2LC.js:323-394)
    --history        path to a parquet history store for differential updates
                     (ref ``-h <history>``; argparse reserves ``-h``)
    -o/--output      output directory (default ./out); stdout timing logs
                     mirror bin/gtfsrt2lc.js:86,94

``rt2json`` (ref bin/gtfsrt2json.js)
    -r/--real-time   feed URL/path -> decoded FeedMessage JSON on stdout

HTTP(S) inputs are fetched DRIVER-side (stdlib urllib, <=10 redirects, custom
headers, gzip/deflate decompression — sources/http_fetch.py, mirroring
lib/Gtfsrt2LC.js:270-321 and lib/GtfsIndex.js:24-72) into a local staging
file; the distributed plan downstream is identical to the file path.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import sys
import tempfile
import time
import zipfile
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

STATIC_TABLES = ["stops", "routes", "trips", "stop_times", "calendar"]


def _staging_dir(prefix: str) -> str:
    """Driver-local staging dir, removed at interpreter exit (the reference
    has an explicit cleanUp of its download dir, lib/GtfsIndex.js:146-152;
    leaking one dir per poll would fill /tmp on a long-lived poller)."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _read_static(
    spark: SparkSession, path: str, headers: dict[str, str] | None = None
) -> dict[str, DataFrame]:
    """URL or directory of GTFS .txt files, or a .zip (extracted driver-side —
    the reference stages zips the same way, lib/GtfsIndex.js:20-72; URL
    downloads are always zips, lib/GtfsIndex.js:50-72)."""
    from gtfsrt2lc_spark.sources.http_fetch import fetch_to_file, is_url

    if is_url(path):
        staged = os.path.join(_staging_dir("gtfs_dl_"), "gtfs.zip")
        path = fetch_to_file(path, staged, headers)
    if path.endswith(".zip"):
        tmp = _staging_dir("gtfs_static_")
        with zipfile.ZipFile(path) as z:
            z.extractall(tmp)
        path = tmp
    out: dict[str, DataFrame] = {}
    for name in STATIC_TABLES + ["calendar_dates"]:
        f = os.path.join(path, f"{name}.txt")
        if os.path.exists(f):
            out[name] = spark.read.option("header", True).csv(f)
        elif name in STATIC_TABLES:
            raise FileNotFoundError(f"static GTFS table missing: {f}")
    return out


def _read_feed(
    spark: SparkSession, path: str, headers: dict[str, str] | None = None
) -> DataFrame:
    """Binary feed URL or file(s) -> one payload row per file (ref S1,
    lib/Gtfsrt2LC.js:270-291; URLs staged driver-side with headers,
    redirects, and gzip/deflate handling)."""
    from gtfsrt2lc_spark.sources.http_fetch import fetch_to_file, is_url

    if is_url(path):
        staged = os.path.join(_staging_dir("gtfsrt_dl_"), "feed.bin")
        path = fetch_to_file(path, staged, headers)
    return (
        spark.read.format("binaryFile")
        .load(path)
        .select(F.col("content").alias("payload"))
    )


def _parse_headers(raw: str | None) -> dict[str, str]:
    """--headers JSON string -> dict (ref bin/gtfsrt2lc.js:50-58)."""
    if not raw:
        return {}
    try:
        h = json.loads(raw)
        if not isinstance(h, dict):
            raise ValueError("headers must be a JSON object")
        return {str(k): str(v) for k, v in h.items()}
    except (json.JSONDecodeError, ValueError) as e:
        raise SystemExit(
            "Please provide a valid JSON string for the extra HTTP headers"
        ) from e


def _write_json(conns: DataFrame, out: str) -> None:
    """NDJSON, one connection object per line. This IS the reference's json
    format: lib/Gtfsrt2LC.js:263 pipes through ``JSONStream.stringify(false)``,
    which per JSONStream's API separates elements with newlines and emits NO
    array brackets (only argless ``stringify()`` wraps in ``[...]``). The one
    divergence is distribution itself: many part files instead of one stream.
    """
    iso = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
    obj = F.to_json(
        F.struct(
            F.col("type"),
            F.col("departureStop"),
            F.date_format("departureTime", iso).alias("departureTime"),
            F.col("arrivalStop"),
            F.date_format("arrivalTime", iso).alias("arrivalTime"),
            F.col("departure_delay").alias("departureDelay"),
            F.col("arrival_delay").alias("arrivalDelay"),
            F.col("trip"),
            F.col("route"),
            F.col("headsign"),
            F.col("pickup_type"),
            F.col("drop_off_type"),
        )
    )
    conns.select(obj.alias("line")).write.mode("overwrite").text(out)


def _write_csv(conns: DataFrame, out: str) -> None:
    from gtfsrt2lc_spark.sources.gtfs_serializers import (
        CSV_HEADER,
        connections_to_csv_lines,
    )

    connections_to_csv_lines(conns).write.mode("overwrite").text(out)
    # header sidecar: distributed text parts can't prepend (documented
    # divergence from the stream writer, lib/Connections2CSV.js:10-12)
    with open(os.path.join(out, "header.csv"), "w") as f:
        f.write(CSV_HEADER + "\n")


def run_rt2lc(args: argparse.Namespace, spark: SparkSession) -> int:
    from gtfsrt2lc_spark.plans.gtfs import (
        DEFAULT_URIS,
        GtfsIndexes,
        Gtfsrt2LCPipeline,
        HistoryStore,
    )
    from gtfsrt2lc_spark.functions.gtfsrt_proto import decode_feed_df
    from gtfsrt2lc_spark.sources.gtfs_serializers import (
        connections_to_quads,
        write_connections_jsonld,
    )
    from gtfsrt2lc_spark.sources.nquads import to_nquads_lines, write_turtle

    uris = DEFAULT_URIS
    if args.uris_template:
        with open(args.uris_template) as f:
            uris = json.load(f)

    headers = _parse_headers(args.headers)
    t0 = time.monotonic()
    updates = decode_feed_df(_read_feed(spark, args.real_time, headers))
    static = _read_static(spark, args.static, headers)
    if args.grep:
        # S6 grep analog: semi-join static facts down to the RT-updated trip
        # set before index build (lib/GtfsIndex.js:107-118,264-307). Under
        # --deduce the candidate trips aren't known yet, so trips/stop_times
        # stay whole (the reference greps by route in that mode).
        upd = F.broadcast(
            updates.where(F.col("trip_id").isNotNull())
            .select("trip_id")
            .distinct()
        )
        if not args.deduce:
            for tbl in ("trips", "stop_times"):
                cols = static[tbl].columns  # semi-join reorders the key col
                static[tbl] = static[tbl].join(upd, "trip_id", "left_semi").select(*cols)
    indexes = GtfsIndexes(
        stops=static["stops"],
        routes=static["routes"],
        trips=static["trips"],
        stop_times=static["stop_times"],
        calendar=static["calendar"],
        calendar_dates=static.get("calendar_dates"),
    )
    t_index = time.monotonic() - t0
    print(f"GTFS indexing process took {t_index * 1000:.0f} ms", file=sys.stderr)

    as_of = None
    if args.as_of:
        dt = datetime.fromisoformat(args.as_of)
        # offset-bearing inputs convert to UTC; naive inputs are taken as UTC
        as_of = dt.astimezone(timezone.utc) if dt.tzinfo else dt.replace(tzinfo=timezone.utc)
    pipe = Gtfsrt2LCPipeline(
        indexes,
        deduce=args.deduce,
        as_of=as_of,
        broadcast=(args.store != "LevelStore"),
    )
    t1 = time.monotonic()
    conns = pipe.connections(updates)

    store = fresh = None
    if args.history:
        # persisted: both the output write and the history commit read it
        store = HistoryStore(spark, args.history)
        fresh = conns = store.filter_new(conns).persist()
        emitted = Observation()
        conns = conns.observe(emitted, F.count(F.lit(1)).alias("rows"))

    out = args.output
    fmt = args.format
    try:
        if fmt == "json":
            _write_json(conns, out)
        elif fmt == "jsonld":
            write_connections_jsonld(conns, uris, out)
        elif fmt == "csv":
            _write_csv(conns, out)
        elif fmt in ("turtle", "ntriples"):
            quads = connections_to_quads(conns, uris)
            if fmt == "turtle":
                write_turtle(quads, out, obj_datatype="obj_datatype")
            else:
                to_nquads_lines(
                    quads, graph=None, obj_datatype="obj_datatype"
                ).write.mode("overwrite").text(out)
        else:
            print(f"unknown format: {fmt}", file=sys.stderr)
            return 2
        # the output lands BEFORE the commit: a crash in the write leaves the
        # history untouched, so a re-poll re-emits the full set. A poll that
        # emitted nothing commits nothing.
        if store is not None and emitted.get["rows"]:
            store.commit(fresh)
    finally:
        if fresh is not None:
            fresh.unpersist()
    t_conv = time.monotonic() - t1
    print(
        f"Linked Connections conversion process took {t_conv * 1000:.0f} ms",
        file=sys.stderr,
    )
    return 0


def run_rt2json(args: argparse.Namespace) -> int:
    from gtfsrt2lc_spark.functions.gtfsrt_proto import decode_feed
    from gtfsrt2lc_spark.sources.http_fetch import fetch_bytes, is_url

    headers = _parse_headers(getattr(args, "headers", None))
    if is_url(args.real_time):
        data = fetch_bytes(args.real_time, headers)
    else:
        with open(args.real_time, "rb") as f:
            data = f.read()
    print(json.dumps(decode_feed(data), default=str))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="gtfsrt2lc_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    lc = sub.add_parser("rt2lc", help="GTFS-RT + static GTFS -> Linked Connections")
    lc.add_argument("-r", "--real-time", required=True)
    lc.add_argument("-s", "--static", required=True)
    lc.add_argument("-u", "--uris-template")
    lc.add_argument(
        "-f",
        "--format",
        default="json",
        choices=["json", "jsonld", "csv", "turtle", "ntriples"],
    )
    lc.add_argument("-S", "--store", default="MemStore", choices=["MemStore", "LevelStore"])
    lc.add_argument("-g", "--grep", action="store_true")
    lc.add_argument("-d", "--deduce", action="store_true")
    lc.add_argument("-H", "--headers", help='extra HTTP headers as JSON, e.g. {"api-Key":"k"}')
    lc.add_argument("--history", help="parquet history store for differential updates")
    lc.add_argument("-o", "--output", default="./out")
    lc.add_argument("--as-of", help="ISO timestamp pinning findTripStartDate (F4)")

    js = sub.add_parser("rt2json", help="decode a GTFS-RT feed to JSON (ref bin/gtfsrt2json.js)")
    js.add_argument("-r", "--real-time", required=True)
    js.add_argument("-H", "--headers", help="extra HTTP headers as JSON")
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd == "rt2json":
        return run_rt2json(args)
    if spark is None:
        from gtfsrt2lc_spark.session import get_spark

        spark = get_spark(app_name="gtfsrt2lc_spark_cli")
    return run_rt2lc(args, spark)


if __name__ == "__main__":
    raise SystemExit(main())
