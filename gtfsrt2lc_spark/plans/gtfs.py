"""The reference's own domain, Spark-native: GTFS-RT + GTFS -> Linked Connections.

This is the full gtfsrt2lc workload (a reference user can run their queries
here), re-expressed as DataFrame plans:

  stage                         reference                     here
  ----------------------------- ----------------------------- -------------------------
  protobuf decode (S3)          FeedMessage.decode :61-66     functions/gtfsrt_proto.decode_feed_df (Arrow)
  dimension indexes (A1-A5)     lib/GtfsIndex.js:75-169       GtfsIndexes (groupBy/sort_array/map_from_entries);
                                                              persist()ed once per static bundle, reused by every poll
  trip deduction (J5)           lib/Gtfsrt2LC.js:323-394      multi-predicate join + last-match-wins window
  service day / start (F3/F4)   lib/Gtfsrt2LC.js:113-142      Column exprs; findTripStartDate takes explicit as_of
  dim joins (J1-J4, P3)         lib/Gtfsrt2LC.js:98-111       broadcast hash joins, inner (silent drop)
  repair + pairing (W1-W10,P6)  lib/Gtfsrt2LC.js:438-665      one Arrow mapInPandas pass per update row
  history dedup (J6/T3)         lib/Gtfsrt2LC.js:667-751      parquet delta log (LSM-style), latest gen wins; left join,
                                                              or a lag over polls for a many-feed stream batch
  12-quad explode (S10)         lib/Connections2Triples.js    sources/gtfs_serializers.py

Scale notes: dimensions broadcast (they are the reference's in-heap Maps);
the only wide operations are the updates-side shuffle for deduction
(keyed by route_id — AQE skew-join splits hot routes) and the history
join (keyed by connection rule). The repair pass is Arrow-batched and
embarrassingly parallel across update rows.
"""

from __future__ import annotations

import copy
from datetime import datetime, timezone
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DAYS = ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]

STOP_STRUCT_FIELDS = [
    "stop_sequence", "stop_id", "arrival_time", "departure_time",
    "pickup_type", "drop_off_type",
]


def parse_gtfs_duration_secs(col):
    """F1 (`lib/Gtfsrt2LC.js:773-777`): 'HH:MM[:SS]', hours may exceed 23.
    Never to_timestamp — 25:10:00 must parse."""
    p = F.split(col, ":")
    return (
        F.get(p, 0).cast("long") * 3600
        + F.get(p, 1).cast("long") * 60
        + F.coalesce(F.get(p, 2).cast("long"), F.lit(0))
    )


class GtfsIndexes:
    """Dimension prep (ref lib/GtfsIndex.js:75-169) as broadcastable frames.

    Inputs are raw GTFS table DataFrames (string-typed columns, as CSV read
    with header=True yields). If ``trips`` carries a ``_pos`` column it is
    used for the reference's last-occurrence-wins tie-breaks; otherwise
    trip_id order stands in (documented divergence for unordered inputs).
    """

    def __init__(
        self,
        stops: DataFrame,
        routes: DataFrame,
        trips: DataFrame,
        stop_times: DataFrame,
        calendar: DataFrame,
        calendar_dates: DataFrame | None = None,
    ) -> None:
        if "_pos" not in trips.columns:
            trips = trips.withColumn("_pos", F.col("trip_id"))
        self.stops = stops.dropDuplicates(["stop_id"])
        self.routes = routes.dropDuplicates(["route_id"])
        self.trips = trips.dropDuplicates(["trip_id"])
        self.calendar = calendar.dropDuplicates(["service_id"])
        # A1/O1: ordered per-trip stop list (sort_array replaces the
        # reference's external `sort` + run grouping, lib/GtfsIndex.js:204-247)
        item = F.struct(
            F.col("stop_sequence").cast("int").alias("stop_sequence"),
            F.col("stop_id"),
            F.col("arrival_time"),
            F.col("departure_time"),
            F.coalesce(F.col("pickup_type"), F.lit("0")).alias("pickup_type"),
            F.coalesce(F.col("drop_off_type"), F.lit("0")).alias("drop_off_type"),
        )
        self.stop_times_by_trip = (
            stop_times.groupBy("trip_id")
            .agg(F.sort_array(F.collect_list(item)).alias("static_stops"))
        )
        # A4: first stop per trip (ref filters stop_sequence === '1',
        # lib/GtfsIndex.js:220-222)
        self.first_stops = (
            stop_times.where(F.col("stop_sequence").cast("int") == 1)
            .dropDuplicates(["trip_id"])
            .select("trip_id", F.col("departure_time").alias("first_departure_time"))
        )
        # A3: service_id -> {yyyymmdd: exception_type}
        if calendar_dates is not None:
            self.calendar_dates = calendar_dates.groupBy("service_id").agg(
                F.map_from_entries(
                    F.collect_list(F.struct("date", "exception_type"))
                ).alias("exceptions")
            )
        else:
            self.calendar_dates = None

    def _frames(self) -> list[DataFrame]:
        frames = [self.stops, self.routes, self.trips, self.calendar,
                  self.stop_times_by_trip, self.first_stops, self.calendar_dates]
        return [df for df in frames if df is not None]

    def persist(self) -> GtfsIndexes:
        """Keep the index frames resident (the reference's in-heap Maps,
        built once and reused by every poll, README.md:58): queries over
        them read the cache instead of re-reading and re-aggregating the
        static tables. Lazy: the first query over a frame fills it. As with
        any persisted file scan, an edit to the source files is not seen
        until the indexes are rebuilt."""
        for df in self._frames():
            df.persist()
        return self

    def unpersist(self) -> None:
        for df in self._frames():
            df.unpersist()

    def for_trips(self, trip_ids: DataFrame) -> GtfsIndexes:
        """A view whose trip-keyed frames (trips, first_stops,
        stop_times_by_trip) are semi-joined down to ``trip_ids`` — the
        Spark analog of the reference's grep scan (lib/GtfsIndex.js:264-307).
        The other frames are shared with ``self``."""
        view = copy.copy(self)
        for name in ("trips", "first_stops", "stop_times_by_trip"):
            df = getattr(self, name)
            # the semi-join moves the key column first
            setattr(view, name, df.join(trip_ids, "trip_id", "left_semi").select(*df.columns))
        return view


DEFAULT_URIS = {
    # ref default templates, lib/Gtfsrt2LC.js:34-45
    "stop": "http://example.org/stations/{stops.stop_id}",
    "route": "http://example.org/routes/{routeLabel}/{routes.route_id}",
    "trip": "http://example.org/trips/{trips.trip_id}/{tripLabel}/{tripStartTime}",
    "connection": "http://example.org/connections/{tripLabel}/{depStop}/{tripStartTime}/",
    "resolve": {
        "depStop": "connection.departureStop.stop_id",
        "routeLabel": "routes.route_long_name.replace(/\\s/gi, '');",
        "tripLabel": "routes.route_short_name + routes.route_id;",
        "tripStartTime": "format(trips.startTime, \"yyyyMMdd'T'HHmm\");",
    },
}

CONNECTION_OUT_SCHEMA = (
    "type string, trip_id string, route_id string, service_day string, "
    "trip_start_time bigint, departure_stop string, arrival_stop string, "
    "departure_time bigint, arrival_time bigint, "
    "departure_delay bigint, arrival_delay bigint, "
    "headsign string, pickup_type string, drop_off_type string, "
    "static_departure_time string, static_arrival_time string"
)


def _dur_secs_py(s: str | None) -> int:
    if not s:
        return 0
    parts = s.split(":")
    h = int(parts[0])
    m = int(parts[1]) if len(parts) > 1 else 0
    sec = int(parts[2]) if len(parts) > 2 and parts[2] != "" else 0
    return h * 3600 + m * 60 + sec


def _repair_and_pair(pdf: pd.DataFrame):
    """W1-W10 + P6: one ordered pass per update row — the order-dependent
    recurrence with retroactive previous-row mutation that no closed-form
    window expresses (semantic port of lib/Gtfsrt2LC.js:438-665; see each
    inline cite). Arrow-batched across updates; a group is <= ~100 stops."""
    out = []
    for row in pdf.itertuples(index=False):
        statics = list(row.static_stops) if row.static_stops is not None else []
        lives = list(row.stop_time_updates) if row.stop_time_updates is not None else []
        day0 = row.service_day_unix
        ts = row.timestamp if row.timestamp is not None else 0

        def sched(st, field):
            return day0 + _dur_secs_py(st[field])

        # ---- completeUpdates (W1/W2/W3, :438-530) ----
        completed = []  # dicts: stopId, arr {delay,time}, dep {delay,time}, schedRel
        li = 0
        for i, st in enumerate(statics):
            static_stop = st["stop_id"]
            live = lives[li] if li < len(lives) else None
            live_stop = None
            if live is not None:
                if live["stop_id"]:
                    live_stop = live["stop_id"]
                if live["stop_sequence"]:  # stopSequence match preferred (:454-462)
                    for s2 in statics:
                        if s2["stop_sequence"] == live["stop_sequence"]:
                            live_stop = s2["stop_id"]
                            break
            if static_stop == live_stop:
                completed.append(
                    _check_update(live, completed[-1] if completed else None,
                                  st, i, len(statics), day0, ts)
                )
                li += 1
            else:
                static_index = None
                if live_stop:
                    for j, s2 in enumerate(statics):
                        if s2["stop_id"] == live_stop:
                            static_index = j
                            break
                elif live is not None:
                    # P6: live update names no known stop -> skip it (:485-489)
                    li += 1
                    continue
                # note: in the reference `staticIndex < 0` is dead code
                # (for..in string indexes / undefined never compare < 0), so
                # the fill condition is effectively liveIndex > 0 (:494)
                if li > 0 and completed:
                    # W2: fill blanks with previous departure delay (:494-508)
                    prev_delay = completed[-1]["dep_delay"]
                    completed.append({
                        "stopId": st["stop_id"],
                        "arr_delay": prev_delay,
                        "arr_time": sched(st, "arrival_time") + prev_delay,
                        "dep_delay": prev_delay,
                        "dep_time": sched(st, "departure_time") + prev_delay,
                        "schedRel": None,
                    })
                elif (
                    li == 0
                    and static_index is not None
                    and i == static_index - 1
                    and lives
                    and (
                        lives[0]["arrival_delay"] is not None
                        or lives[0]["arrival_time"] is not None
                    )
                ):
                    # W3: synthetic preceding stop when the first update has
                    # arrival info, so the incoming connection exists (:509-522)
                    completed.append({
                        "stopId": st["stop_id"],
                        "arr_delay": None, "arr_time": None,
                        "dep_delay": 0,
                        "dep_time": sched(st, "departure_time"),
                        "schedRel": None,
                    })

        # ---- pairing (W9/W10, :158-229) ----
        if len(completed) > 1:
            pd_index = -1
            for j, s2 in enumerate(statics):
                if s2["stop_id"] == completed[0]["stopId"]:
                    pd_index = j
                    break
            for j in range(len(completed) - 1):
                cu, ncu = completed[j], completed[j + 1]
                if pd_index < 0 or pd_index + 1 >= len(statics):
                    break
                out.append((
                    row.type, row.trip_id, row.route_id, row.service_day,
                    int(row.trip_start_time),
                    cu["stopId"], ncu["stopId"],
                    int(cu["dep_time"]), int(ncu["arr_time"]),
                    int(cu["dep_delay"] or 0), int(ncu["arr_delay"] or 0),
                    row.headsign,
                    # W10: RT scheduleRelationship overrides static (:214-215)
                    str(cu["schedRel"]) if cu["schedRel"] else statics[pd_index]["pickup_type"],
                    str(ncu["schedRel"]) if ncu["schedRel"] else statics[pd_index + 1]["drop_off_type"],
                    statics[pd_index]["departure_time"],
                    statics[pd_index + 1]["arrival_time"],
                ))
                pd_index += 1
    cols = [
        "type", "trip_id", "route_id", "service_day", "trip_start_time",
        "departure_stop", "arrival_stop", "departure_time", "arrival_time",
        "departure_delay", "arrival_delay", "headsign", "pickup_type",
        "drop_off_type", "static_departure_time", "static_arrival_time",
    ]
    return pd.DataFrame(out, columns=cols)


def _check_update(live, prev, st, idx, n, day0, ts):
    """checkUpdate (W4-W8, lib/Gtfsrt2LC.js:532-665), normalized dict form."""
    def sched(field):
        return day0 + _dur_secs_py(st[field])

    dep_delay = live["departure_delay"]
    dep_time = live["departure_time"]
    arr_delay = live["arrival_delay"]
    arr_time = live["arrival_time"]
    has_dep = dep_delay is not None or (dep_time is not None and dep_time != 0)
    has_arr = arr_delay is not None or (arr_time is not None and arr_time != 0)

    # W4: missing delay := live - static (:539-552)
    if has_dep and dep_time and dep_delay is None:
        dep_delay = dep_time - sched("departure_time")
    if has_arr and arr_time and arr_delay is None:
        arr_delay = arr_time - sched("arrival_time")

    # W5: missing/zero time := static + delay (:554-564, 582-592)
    if has_dep and not dep_time:
        dep_time = sched("departure_time") + (dep_delay or 0)
    if has_arr and not arr_time:
        arr_time = sched("arrival_time") + (arr_delay or 0)

    # W6: missing departure (:565-580)
    if not has_dep:
        if idx < n - 1 and has_arr:
            dep_delay = arr_delay or 0
            dep_time = sched("departure_time") + (arr_delay or 0)
        else:
            dep_delay = 0
            dep_time = sched("departure_time")

    # W7: missing arrival — fact vs prediction (:593-636)
    if not has_arr:
        if idx > 0 and prev is not None:
            prev_dep_delay = prev["dep_delay"] or 0
            original_arr = sched("arrival_time")
            new_arr = original_arr + prev_dep_delay
            if new_arr <= dep_time:
                arr_delay, arr_time = prev_dep_delay, new_arr
            elif dep_time < ts:
                # fact: trust this stop's delay, rewrite PREVIOUS row (:612-621)
                arr_delay = dep_delay
                arr_time = original_arr + dep_delay
                prev["dep_time"] = prev["dep_time"] - prev_dep_delay + dep_delay
                prev["dep_delay"] = dep_delay
            else:
                # prediction: trust previous delay (:622-633)
                arr_delay, arr_time = prev_dep_delay, new_arr
                dep_time = sched("departure_time") + prev_dep_delay
                dep_delay = prev_dep_delay
        else:
            arr_delay, arr_time = dep_delay, dep_time  # degenerate first stop

    # W8: monotonicity repair vs previous (:638-657)
    if prev is not None and prev["dep_time"] > arr_time:
        prev_dep_delay = prev["dep_delay"] or 0
        arr_delay = prev_dep_delay
        arr_time = sched("arrival_time") + prev_dep_delay
        if arr_time > dep_time:
            dep_time = sched("departure_time") + prev_dep_delay
            dep_delay = prev_dep_delay

    return {
        "stopId": live["stop_id"] or st["stop_id"],
        "arr_delay": arr_delay, "arr_time": arr_time,
        "dep_delay": dep_delay, "dep_time": dep_time,
        "schedRel": live["schedule_relationship"],
    }


class Gtfsrt2LCPipeline:
    """updates (decoded RT) + GtfsIndexes -> Connections DataFrame."""

    def __init__(
        self,
        indexes: GtfsIndexes,
        deduce: bool = False,
        as_of: datetime | None = None,
        broadcast: bool = True,
    ) -> None:
        self.idx = indexes
        self.deduce = deduce
        # F4 uses the wall clock in the reference (lib/Gtfsrt2LC.js:397) —
        # nondeterministic; here an explicit as_of pins it (SURVEY.md §7.3)
        self.as_of = as_of or datetime(2024, 1, 15, 12, 0, 0, tzinfo=timezone.utc)
        # MemStore/LevelStore duality (ref lib/GtfsIndex.js:99-146): broadcast
        # hash joins (dims in memory) vs planner-chosen shuffle joins (dims
        # too big to pin); both must yield identical connection sets
        self._b = F.broadcast if broadcast else (lambda df: df)

    # ---- J5 trip deduction ------------------------------------------------
    def _deduce(self, updates: DataFrame) -> DataFrame:
        """Blocking key route_id; scoring filters direction/startTime(+24h)/
        calendar; last match wins (ref :323-394, last-wins at :376,380)."""
        # No isEmpty() probe here: plan construction must stay lazy (a
        # driver-side action per conversion serializes the plan build). When
        # nt is empty the deduced frame is empty and the terminal left join
        # is an identity; AQE collapses the empty-side join at runtime.
        nt = updates.where(F.col("trip_id").isNull() & F.col("route_id").isNotNull())
        t = self._b(self.idx.trips.join(self.idx.first_stops, "trip_id"))
        cal = self._b(self.idx.calendar)
        cand = nt.drop("trip_id").join(
            t.select(
                "trip_id",
                F.col("route_id").alias("_t_route"),
                F.col("direction_id").alias("_t_dir"),
                "service_id",
                "first_departure_time",
                "_pos",
            ),
            (F.col("route_id") == F.col("_t_route"))
            & (F.col("_t_dir").cast("int") == F.col("direction_id")),
        )
        # startTime match with +24h rollover (F9, :348-362)
        st = F.col("start_time")
        rolled = F.concat(
            (F.split(st, ":").getItem(0).cast("int") + 24).cast("string"),
            F.substring(st, 3, 100),
        )
        cand = cand.where(
            (F.col("first_departure_time") == st)
            | (F.col("first_departure_time") == rolled)
        )
        # calendar validity on start_date (:365-383); calendar's own
        # start_date/end_date renamed to avoid colliding with the update's
        cand = cand.join(
            cal.select(
                "service_id",
                *DAYS,
                F.col("start_date").alias("svc_start"),
                F.col("end_date").alias("svc_end"),
            ),
            "service_id",
            "left",
        )
        if self.idx.calendar_dates is not None:
            cand = cand.join(self._b(self.idx.calendar_dates), "service_id", "left")
            exc = F.element_at(F.col("exceptions"), F.col("start_date"))
        else:
            exc = F.lit(None).cast("string")
        d = F.to_date(F.col("start_date"), "yyyyMMdd")
        day_flags = F.create_map(
            *[x for day in DAYS for x in (F.lit(day), F.col(day))]
        )
        dayname = F.lower(F.date_format(d, "EEEE"))
        valid = (
            (d >= F.to_date(F.col("svc_start"), "yyyyMMdd"))
            & (d <= F.to_date(F.col("svc_end"), "yyyyMMdd"))
            & (F.element_at(day_flags, dayname) == "1")
            & ((exc.isNull()) | (exc != "2"))
        ) | (exc == "1")
        cand = cand.where(valid)
        w = Window.partitionBy("entity_id").orderBy(F.col("_pos").desc())
        deduced = (
            cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("entity_id", F.col("trip_id").alias("_deduced_trip"))
        )
        return updates.join(self._b(deduced), "entity_id", "left").withColumn(
            "trip_id", F.coalesce(F.col("trip_id"), F.col("_deduced_trip"))
        ).drop("_deduced_trip")

    # ---- service day / start time (F3/F4, :113-142) ----------------------
    def _with_service_day(self, df: DataFrame) -> DataFrame:
        as_of = F.lit(self.as_of.replace(tzinfo=None)).cast("timestamp")
        as_of_date = F.to_date(as_of)
        dur = parse_gtfs_duration_secs(
            F.coalesce(F.col("start_time"), F.col("first_departure_time"))
        )
        day_flags = F.create_map(
            *[x for day in DAYS for x in (F.lit(day), F.col(day))]
        )

        def cand(date_col):
            sd = F.unix_timestamp(date_col.cast("timestamp")) + dur
            name = F.lower(F.date_format(date_col, "EEEE"))
            runs = F.element_at(day_flags, name) == "1"
            dist = F.abs(F.unix_timestamp(as_of) - sd)
            return F.when(runs, dist).otherwise(F.lit(2**62))

        today_d = cand(as_of_date)
        tomo_d = cand(F.date_add(as_of_date, 1))
        yest_d = cand(F.date_add(as_of_date, -1))
        best = F.least(today_d, tomo_d, yest_d)
        derived_day = (
            F.when(today_d == best, as_of_date)
            .when(tomo_d == best, F.date_add(as_of_date, 1))
            .otherwise(F.date_add(as_of_date, -1))
        )
        service_day = F.coalesce(
            F.to_date(F.col("start_date"), "yyyyMMdd"), derived_day
        )
        out = df.withColumn("service_day", F.date_format(service_day, "yyyyMMdd"))
        out = out.withColumn(
            "service_day_unix",
            F.unix_timestamp(F.to_date(F.col("service_day"), "yyyyMMdd").cast("timestamp")),
        )
        return out.withColumn("trip_start_time", F.col("service_day_unix") + dur)

    # ---- full plan --------------------------------------------------------
    def connections(self, updates: DataFrame) -> DataFrame:
        u = updates.withColumn(
            "timestamp", F.coalesce(F.col("update_ts"), F.col("header_ts"))
        )
        if self.deduce:
            u = self._deduce(u)
        # J1/J2/J3 inner joins: silent drop on missing static data (P3)
        t = self._b(
            self.idx.trips.join(self.idx.first_stops, "trip_id", "left")
        )
        u = u.join(
            t.select(
                "trip_id", F.col("route_id").alias("_t_route_id"), "service_id",
                "trip_headsign", "trip_short_name", "first_departure_time",
            ),
            "trip_id",
        ).withColumn("route_id", F.coalesce(F.col("route_id"), F.col("_t_route_id")))
        u = u.join(self._b(self.idx.routes), "route_id")
        u = u.join(self._b(self.idx.stop_times_by_trip), "trip_id")
        u = u.where(F.size("static_stops") >= 2)  # P3 (:104)
        u = u.join(
            self._b(self.idx.calendar.select("service_id", *DAYS)),
            "service_id",
            "left",
        )
        u = self._with_service_day(u)
        # P7 cancellation classification (:427-436)
        u = u.withColumn(
            "type",
            F.when(
                F.col("is_deleted") | (F.col("trip_schedule_relationship") == 3),
                "CancelledConnection",
            ).otherwise("Connection"),
        ).withColumn("headsign", F.col("trip_headsign"))

        cols = [
            "type", "trip_id", "route_id", "service_day", "service_day_unix",
            "trip_start_time", "timestamp", "headsign",
            "static_stops", "stop_time_updates",
        ]
        conns = u.select(*cols).mapInPandas(
            lambda it: map(_repair_and_pair, it), schema=CONNECTION_OUT_SCHEMA
        )
        # J4: stop dimension joins (dep + arr, aliased) + route for output
        stops_dim = self.idx.stops
        dep = self._b(
            stops_dim.select(
                F.col("stop_id").alias("departure_stop"),
                F.struct(*[F.col(c) for c in stops_dim.columns]).alias("departureStop"),
            )
        )
        arr = self._b(
            stops_dim.select(
                F.col("stop_id").alias("arrival_stop"),
                F.struct(*[F.col(c) for c in stops_dim.columns]).alias("arrivalStop"),
            )
        )
        routes_dim = self.idx.routes
        rt = self._b(
            routes_dim.select(
                F.col("route_id"),
                F.struct(*[F.col(c) for c in routes_dim.columns]).alias("route"),
            )
        )
        trips_dim = self.idx.trips.drop("_pos")
        tr = self._b(
            trips_dim.select(
                F.col("trip_id"),
                F.struct(*[F.col(c) for c in trips_dim.columns]).alias("trip"),
            )
        )
        out = (
            conns.join(dep, "departure_stop")
            .join(arr, "arrival_stop")
            .join(rt, "route_id")
            .join(tr, "trip_id")
            .withColumn("departureTime", F.to_timestamp(F.col("departure_time")))
            .withColumn("arrivalTime", F.to_timestamp(F.col("arrival_time")))
            .withColumn("tripStartTime", F.to_timestamp(F.col("trip_start_time")))
        )
        return out


# A commit compacts the store into one generation once this many are live.
# Compaction rewrites the whole store, so its cost is spread over the delta
# commits before it; a read resolves at most this many generations.
MAX_GENERATIONS = 8


class HistoryStore:
    """J6/T3: differential connection store (ref lib/Gtfsrt2LC.js:667-751).

    Parquet-backed key/value state: key = the 9-part connection rule
    (ref :686-696), sub-key = service date, value = (depDelay, arrDelay,
    type). ``filter_new`` keeps the connections whose state differs from
    the stored one; ``commit`` records the new states. Second identical run
    emits 0 (ref test :156). Both take an optional ``poll`` column that
    orders several feeds of one batch (the streaming micro-batch); a CLI
    poll is the one-feed case.

    Layout — an append-only log of generations, the Spark-native analog of
    the reference's LevelDB (an LSM store, where a write touches only what
    changed):

    .. code-block:: text

        <path>/manifest-<seq>.json  # {"seq": N, "generations": [oldest, ..., newest]}
        <path>/data/gen-<seq>/      # parquet, unpartitioned, one row per key

    A generation holds one state per ``(rule_key, service_day)``; a key's
    live state is its row in the newest generation that holds it. ``commit``
    writes only the delta — the fresh states — as generation ``gen-<seq+1>``,
    so its cost follows the change, not the store. Compaction: once
    ``MAX_GENERATIONS`` generations are live, the commit instead writes the
    resolved state of all of them plus the delta as the one live
    generation. Reads therefore resolve at most ``MAX_GENERATIONS``
    generations, and the store holds that many directories however many
    polls ran.

    Commit point: the generation data is written FIRST (``mode("overwrite")``
    so a crashed attempt's orphan at the same name never blocks the retry),
    then ``hadoop_fs.commit_generations`` writes ``manifest-<seq+1>.json``
    and vacuums what it no longer names. A commit either fully happened or
    left only orphans that readers ignore and the next commit overwrites or
    vacuums. An empty delta commits nothing: no generation, no manifest.

    A store in the retired bucketed layout (its manifest has ``n_buckets``
    and per-generation bucket lists) raises ``ValueError``: reading it as
    empty would re-emit every connection. There is no migration; delete the
    store to re-seed it.
    """

    _KEY = ["rule_key", "service_day"]
    _STATE = ["departure_delay", "arrival_delay", "type"]
    _SCHEMA = (
        "rule_key string, service_day string, departure_delay bigint, "
        "arrival_delay bigint, type string"
    )

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path.rstrip("/")

    @staticmethod
    def rule_key(conns: DataFrame) -> DataFrame:
        dep_code = F.when(
            F.col("departureStop.stop_code").isNotNull()
            & (F.col("departureStop.stop_code") != ""),
            F.col("departureStop.stop_code"),
        ).otherwise(F.col("departure_stop"))
        arr_code = F.when(
            F.col("arrivalStop.stop_code").isNotNull()
            & (F.col("arrivalStop.stop_code") != ""),
            F.col("arrivalStop.stop_code"),
        ).otherwise(F.col("arrival_stop"))
        key = F.concat_ws(
            "/",
            F.regexp_replace(F.col("route.route_long_name"), r"\s", ""),
            F.col("trip.trip_short_name"),
            dep_code,
            arr_code,
            F.date_format(F.col("tripStartTime"), "H:mm:ss"),
            F.col("static_departure_time"),
            F.col("static_arrival_time"),
            F.col("pickup_type"),
            F.col("drop_off_type"),
        )
        return conns.withColumn("rule_key", key)

    def _manifest(self) -> dict:
        """Live manifest = the highest ``manifest-<seq>.json`` present, or a
        fresh empty one when none exists. Manifests appear atomically under
        never-reused names, so the highest sequence is always a completed
        commit (its generation data is written before it). Any read failure
        past this point (unreadable or old-layout manifest, missing data it
        references) raises — a corrupted store must surface, not silently
        reset all differential history (every connection would re-emit on
        the next poll)."""
        from gtfsrt2lc_spark.functions import hadoop_fs as hfs

        live = hfs.read_live_manifest(self.spark, self.path)
        if live is None:
            return {"seq": 0, "generations": []}
        seq, m = live
        if (
            not isinstance(m, dict)
            or "n_buckets" in m
            or not isinstance(m.get("generations"), list)
        ):
            raise ValueError(
                f"history store {self.path}: {hfs.manifest_name(seq)} is not a "
                "delta-log manifest (the retired bucketed layout has 'n_buckets' and "
                "per-generation bucket lists). It is not read as empty, "
                "because that would re-emit every connection; delete the "
                "store to re-seed it."
            )
        return m

    def _generation(self, gen: str) -> DataFrame:
        return self.spark.read.schema(self._SCHEMA).parquet(f"{self.path}/data/{gen}")

    @classmethod
    def _newest(cls, df: DataFrame, order: str | None = None) -> DataFrame:
        """One state per key: its row with the highest ``order``; rows that
        tie on it (duplicates within one poll) resolve to the highest state."""
        s = F.max(F.struct(*([order] if order else []), *cls._STATE))
        return (
            df.groupBy(*cls._KEY)
            .agg(s.alias("_s"))
            .select(*cls._KEY, *[F.col(f"_s.{c}") for c in cls._STATE])
        )

    @classmethod
    def _latest(cls, gens: list[DataFrame]) -> DataFrame:
        """Latest state per key across generations listed oldest first: a
        key's row in a later generation wins. Each generation holds one row
        per key, so a single generation needs no resolution."""
        if len(gens) == 1:
            return gens[0]
        tagged = reduce(
            DataFrame.unionByName,
            [g.withColumn("_gen", F.lit(i)) for i, g in enumerate(gens)],
        )
        return cls._newest(tagged, "_gen")

    def state(self) -> DataFrame:
        """Current committed state: one row per (rule_key, service_day) with
        (departure_delay, arrival_delay, type) — the baseline ``filter_new``
        compares against."""
        gens = self._manifest()["generations"]
        if not gens:
            return self.spark.createDataFrame([], self._SCHEMA)
        return self._latest([self._generation(g) for g in gens])

    def filter_new(self, conns: DataFrame, poll: str | None = None) -> DataFrame:
        """Keep connections that are new or changed.

        Without ``poll`` each row is compared with its key's stored state.
        ``poll`` names an int column that orders the feeds of one batch; each
        row is then compared with its key's state in the nearest earlier poll
        that holds the key, or with the store when no earlier poll does. So
        a state that changes and changes back emits both changes, as
        sequential polls would. A poll's state for a key is the max of its
        rows' states (rows of one key in one poll normally agree).
        """
        keyed = self.rule_key(conns)
        state = F.struct(*self._STATE)
        base = self.state().select(*self._KEY, state.alias("_base"))
        on = self._KEY
        if poll is not None:
            prev = F.lag("_s").over(Window.partitionBy(*self._KEY).orderBy(poll))
            base = (
                keyed.groupBy(*self._KEY, poll)
                .agg(F.max(state).alias("_s"))
                .join(base, self._KEY, "left")
                .select(*self._KEY, poll, F.coalesce(prev, "_base").alias("_base"))
            )
            on = self._KEY + [poll]
        fresh = keyed.join(base, on, "left").where(
            F.col("_base.type").isNull()
            | (F.col("_base.departure_delay") != F.col("departure_delay"))
            | (F.col("_base.arrival_delay") != F.col("arrival_delay"))
            | (F.col("_base.type") != F.col("type"))
        )
        return fresh.drop("_base")

    def commit(self, fresh_keyed: DataFrame, poll: str | None = None) -> None:
        """Upsert: one state per (rule_key, service_day), taken from the
        key's fresh rows in the newest ``poll`` that has any (see
        ``filter_new``).

        Edge case: when that poll holds rows of the key that disagree, the
        highest fresh row's state is kept, not necessarily the poll's state
        that later polls were compared with. When they agree (every fixture
        and reference feed), the two are the same.

        Writes one generation holding only the fresh states — or, once
        ``MAX_GENERATIONS`` are live, the compacted whole store — then
        commits the manifest naming it, which vacuums what the new manifest
        no longer references. One write job either way; the delta's row
        count is observed on that write, and an empty delta deletes the
        written directory and commits nothing.
        """
        from pyspark.sql import Observation

        from gtfsrt2lc_spark.functions import hadoop_fs as hfs

        m = self._manifest()
        seq = int(m["seq"]) + 1
        gen = f"gen-{seq:06d}"
        obs = Observation()
        delta = self._newest(fresh_keyed, poll).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        live = list(m["generations"])
        if len(live) >= MAX_GENERATIONS:
            delta = self._latest([self._generation(g) for g in live] + [delta])
            live = []
        delta.write.mode("overwrite").parquet(f"{self.path}/data/{gen}")
        if not obs.get["rows"]:
            hfs.delete(self.spark, f"{self.path}/data/{gen}")
            return
        hfs.commit_generations(
            self.spark, self.path, f"{self.path}/data", seq, {"generations": live + [gen]}
        )
