"""Seeded workload inputs for the KG-construction benchmark.

The benchmark defines what the engine should emit, so golden triples,
golden extracted text and golden GTFS connections are known by
construction, never by running engine code. The predicate lexicon, filler
words, IRI helpers, the fixture KB and the page template come from the
engine's fixture module (``gtfsrt2lc_spark.fixtures.pages``): plain data and
string formatting, no engine logic. The same seed gives byte-identical
inputs.

Inputs:
  * ``kg_corpus``   pages + KB + golden triples (the kg_* workloads)
  * ``gtfs_bundle`` static GTFS CSVs + a sequence of GTFS-RT feeds with a
                    known set of changed connections per poll (gtfs_rt2lc)
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from gtfsrt2lc_spark.fixtures.pages import (  # noqa: F401  (re-exported for the self-tests)
    FILLER,
    PREDICATES,
    _build_kb,
    _render_page,
    entity_iri,
    predicate_iri,
)

_CONSONANTS = "bcdfghjklmnprstvwxz"
_VOWELS = "aeiouy"
_ALIAS_SUFFIXES = ["Group", "Senior", "Holdings", "Partners"]


def typo(surface: str) -> str:
    """Double the last letter: a fuzzy-recoverable misspelling (character
    3-gram Jaccard with the original stays far above the 0.5 threshold)."""
    return surface + surface[-1]


@dataclass
class KB:
    records: list[tuple[str, str, str]] = field(default_factory=list)  # (rid, name, type)
    surfaces: list[tuple[str, str, float]] = field(default_factory=list)  # (surface, rid, prior)
    sameas: list[tuple[str, str]] = field(default_factory=list)
    canonical: dict[str, str] = field(default_factory=dict)  # rid -> canonical name
    by_type: dict[str, list[tuple[str, str]]] = field(
        default_factory=lambda: {"person": [], "org": [], "place": []}
    )

    def add_entity(self, etype: str, surfaces: list[str]) -> None:
        """One real-world entity as a sameAs chain of records, one surface
        per record; the first record (smallest id) names the entity."""
        rids = []
        for s in surfaces:
            rid = f"R{len(self.records):07d}"
            self.records.append((rid, s, etype))
            self.surfaces.append((s, rid, 1.0))
            self.canonical[rid] = surfaces[0]
            self.by_type[etype].append((s, rid))
            rids.append(rid)
        self.sameas.extend(zip(rids, rids[1:]))


def fixture_kb() -> KB:
    """The engine fixture's 36-entity KB, built by the fixture itself."""
    f = _build_kb(random.Random(0))  # the fixture KB draws nothing from its rng
    kb = KB(records=f.records, surfaces=f.surfaces, sameas=f.sameas, canonical=f.canonical)
    etype = {rid: t for rid, _, t in f.records}
    for surface, rid, _ in f.surfaces:
        kb.by_type[etype[rid]].append((surface, rid))
    return kb


def _word(rng: random.Random, syllables: int) -> str:
    w = "".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(syllables))
    return w[0].upper() + w[1:] + rng.choice(_CONSONANTS)


def large_kb(rng: random.Random, n_entities: int, chain_range: tuple[int, int]) -> KB:
    """A synthetic KB of ``n_entities`` distinct two-word names. Each entity
    is a sameAs chain of ``chain_range`` records; record j > 0 carries the
    alias ``<name> <suffix_j>``. All surfaces are unique and no surface's
    typo is another surface, so every typo'd mention has exactly one
    intended target."""
    kb = KB()
    seen: set[str] = set()
    types = ("person", "org", "place")
    while len(seen) < n_entities:
        name = f"{_word(rng, rng.randint(1, 2))} {_word(rng, rng.randint(2, 3))}"
        if name in seen:
            continue
        seen.add(name)
        k = rng.randint(*chain_range)
        kb.add_entity(types[len(seen) % 3], [name] + [f"{name} {s}" for s in _ALIAS_SUFFIXES[: k - 1]])
    return kb


TEXT_SAMPLE = 64  # urls whose extracted text each run checks


def render_page(url: str, domain: str, lang: str, sentences: list[str], malformed: bool) -> bytes:
    return _render_page(url, domain, lang, sentences, malformed).encode()


def page_text(url: str, domain: str, sentences: list[str], malformed: bool) -> str:
    """The extracted text of ``render_page`` by the engine's documented
    extraction spec: script/style/comments dropped, block tags become line
    breaks, other tags vanish, only the six core entities unescape. On a
    malformed page the stray '<' swallows everything up to the next '>'
    (the footer text), leaving the fragment's leading words."""
    lines = [url, "Home", "About", "Contact", url, *sentences]
    if malformed:
        lines.append("trailing unclosed")
    else:
        lines.append(f"&copy; 2024 {domain} &mdash; all rights reserved")
    return "\n".join(lines)


@dataclass
class Corpus:
    # (url, warc_ts, html, text, lang) rows; warc_ts naive UTC
    pages: list[tuple] = field(default_factory=list)
    kb: KB = field(default_factory=KB)
    golden_triples: set[tuple[str, str, str]] = field(default_factory=set)
    golden_text: dict[str, str] = field(default_factory=dict)  # seeded url sample
    n_mentions: int = 0
    n_typo_mentions: int = 0


def kg_corpus(
    seed: int,
    kb: KB,
    n_pages: int,
    noise_range: tuple[int, int],
    facts_range: tuple[int, int] = (1, 5),
    typo_frac: float = 0.0,
) -> Corpus:
    """Pages with planted facts over ``kb``. Planted phenomena mirror the
    engine's fixture corpus: ~20% of pages on one hot domain, ~5% German
    pages without facts, ~5% re-crawled urls whose older truncated snapshot
    must lose to the latest one, ~4% mirrors of a page at another url, ~10%
    malformed HTML. ``typo_frac`` of the fact-sentence surfaces are typo'd;
    their golden triple is the one the correct surface would give."""
    rng = random.Random(seed)
    c = Corpus(kb=kb)
    noise_pool = [
        " ".join(rng.choice(FILLER) for _ in range(rng.randint(5, 10))) + "."
        for _ in range(512)
    ]
    exact = {s for s, _, _ in kb.surfaces}
    typo_ok = {s for s in exact if typo(s) not in exact}
    phrases = sorted(PREDICATES)
    base_ts = datetime(2024, 1, 1)
    latest: dict[str, tuple[str, list[str], bool]] = {}

    for i in range(n_pages):
        hot = rng.random() < 0.20
        domain = "hot.example.com" if hot else f"site{rng.randrange(40)}.example.org"
        url = f"https://{domain}/page/{i}"
        lang = "de" if rng.random() < 0.05 else "en"
        warc_ts = base_ts + timedelta(seconds=i * 17)
        facts = []
        sentences: list[str] = []
        if lang == "en":
            for _ in range(rng.randint(*facts_range)):
                phrase = rng.choice(phrases)
                pred_local, st, ot = PREDICATES[phrase]
                subj, subj_rid = rng.choice(kb.by_type[st])
                obj, obj_rid = rng.choice(kb.by_type[ot])
                if kb.canonical[subj_rid] == kb.canonical[obj_rid]:
                    continue
                surf = []
                for s in (subj, obj):
                    if typo_frac and s in typo_ok and rng.random() < typo_frac:
                        c.n_typo_mentions += 1
                        s = typo(s)
                    surf.append(s)
                c.n_mentions += 2
                sentences.append(f"{surf[0]} {phrase} {surf[1]}.")
                facts.append(
                    (
                        entity_iri(kb.canonical[subj_rid]),
                        predicate_iri(pred_local),
                        entity_iri(kb.canonical[obj_rid]),
                    )
                )
        for _ in range(rng.randint(*noise_range)):
            sentences.insert(rng.randrange(len(sentences) + 1), rng.choice(noise_pool))
        malformed = rng.random() < 0.10

        if rng.random() < 0.05 and sentences:
            old = sentences[: max(1, len(sentences) // 2)]
            c.pages.append(
                (url, warc_ts - timedelta(days=30), render_page(url, domain, lang, old, False), None, lang)
            )
        if rng.random() < 0.04:
            dup_url = f"https://mirror{rng.randrange(5)}.example.net/copy/{i}"
            dup_domain = "mirror.example.net"
            c.pages.append(
                (dup_url, warc_ts + timedelta(seconds=1),
                 render_page(dup_url, dup_domain, lang, sentences, False), None, lang)
            )
            latest[dup_url] = (dup_domain, sentences, False)
        text = page_text(url, domain, sentences, malformed) if i % 2 == 0 else None
        c.pages.append((url, warc_ts, render_page(url, domain, lang, sentences, malformed), text, lang))
        latest[url] = (domain, sentences, malformed)
        c.golden_triples.update(facts)

    for url in rng.sample(sorted(latest), min(TEXT_SAMPLE, len(latest))):
        domain, sentences, malformed = latest[url]
        c.golden_text[url] = page_text(url, domain, sentences, malformed)
    return c


def write_pages(pages: list[tuple], out_dir: str, n_files: int) -> None:
    """Stage page rows as ``n_files`` parquet files of consecutive rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    size = -(-len(pages) // n_files)
    for k in range(n_files):
        chunk = pages[k * size : (k + 1) * size]
        table = pa.table(
            {
                "url": pa.array([p[0] for p in chunk], pa.string()),
                "warc_ts": pa.array([p[1] for p in chunk], pa.timestamp("us")),
                "html": pa.array([p[2] for p in chunk], pa.binary()),
                "text": pa.array([p[3] for p in chunk], pa.string()),
                "lang": pa.array([p[4] for p in chunk], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{k:04d}.parquet"))


# ---------------------------------------------------------------------------
# GTFS
# ---------------------------------------------------------------------------

SERVICE_DAY = "20240115"  # a Monday inside the calendar range
HEADER_TS = 1705312800  # 2024-01-15T10:00:00Z
ROUTE_LONG = "Intercity Line {}"


def _varint(v: int) -> bytes:
    v &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _fld(num: int, body: bytes) -> bytes:
    return _varint(num << 3 | 2) + _varint(len(body)) + body


def _vfld(num: int, v: int) -> bytes:
    return _varint(num << 3) + _varint(v)


def encode_feed(entities: list[tuple[str, str, str, int]]) -> bytes:
    """GTFS-RT FeedMessage wire bytes for trip updates that each carry one
    stop_time_update at stop_sequence 1 with a departure and arrival delay.
    ``entities``: (entity_id, trip_id, start_time, delay_s)."""
    out = _fld(1, _fld(1, b"2.0") + _vfld(3, HEADER_TS))
    for eid, trip_id, start_time, delay in entities:
        trip = _fld(1, trip_id.encode()) + _fld(2, start_time.encode()) + _fld(3, SERVICE_DAY.encode())
        event = _vfld(1, delay)
        stu = _vfld(1, 1) + _fld(2, event) + _fld(3, event)
        tu = _fld(1, trip) + _fld(2, stu) + _vfld(4, HEADER_TS)
        out += _fld(2, _fld(1, eid.encode()) + _fld(3, tu))
    return out


@dataclass
class GtfsBundle:
    static_dir: str
    feeds: list[str]  # feed paths, poll order
    # per feed: the planted new connections as (trip_id, departure stop_id,
    # departure delay); feed 0 is the baseline every later poll diffs against
    golden: list[set[tuple[str, str, int]]]
    n_entities: int


def _hms(minutes: int) -> str:
    return f"{minutes // 60:02d}:{minutes % 60:02d}:00"


def gtfs_bundle(
    seed: int,
    root: str,
    n_trips: int,
    n_stops: int,
    n_routes: int,
    n_entities: int,
    n_polls: int,
    changed_range: tuple[int, int],
) -> GtfsBundle:
    """A static bundle in the shape of the engine's reference-scale GTFS
    bench (8-20 stops per trip, 3-minute spacing, one weekday service) and
    ``n_polls + 1`` feeds over one seeded set of ``n_entities`` updated
    trips. Feed 0 plants a delay on every updated trip; each later feed
    changes the delay of a seeded subset, so exactly that subset's
    connections are new against the history."""
    rng = random.Random(seed)
    static = os.path.join(root, "static")
    os.makedirs(static, exist_ok=True)

    def write(name: str, header: list[str], rows) -> None:
        with open(os.path.join(static, f"{name}.txt"), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            w.writerows(rows)

    write(
        "stops",
        ["stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon"],
        ((f"S{i:04d}", f"C{i:04d}", f"Station {i}", f"{50 + i / 1000:.3f}", f"{4 + i / 1000:.3f}")
         for i in range(1, n_stops + 1)),
    )
    write(
        "routes",
        ["route_id", "route_short_name", "route_long_name", "route_type"],
        ((f"R{i:04d}", f"IC{i}", ROUTE_LONG.format(i), "2") for i in range(1, n_routes + 1)),
    )
    trips = []
    stop_times = []
    stops_of: dict[str, list[str]] = {}
    start_of: dict[str, str] = {}
    for i in range(n_trips):
        tid = f"T{i:05d}"
        trips.append((f"R{rng.randrange(n_routes) + 1:04d}", "WK", tid,
                      f"City {rng.randrange(40)}", str(7000 + i), str(i % 2)))
        n = rng.randint(8, 20)
        base = rng.randrange(5 * 60, 22 * 60)
        # distinct stops within a trip
        sids = [f"S{s + 1:04d}" for s in rng.sample(range(n_stops), n)]
        stops_of[tid] = sids
        start_of[tid] = _hms(base + 3)
        for seq in range(1, n + 1):
            dep = base + seq * 3
            stop_times.append((tid, _hms(dep - 1), _hms(dep), str(seq), sids[seq - 1], "0", "0"))
    write("trips", ["route_id", "service_id", "trip_id", "trip_headsign",
                    "trip_short_name", "direction_id"], trips)
    write("stop_times", ["trip_id", "arrival_time", "departure_time", "stop_sequence",
                         "stop_id", "pickup_type", "drop_off_type"], stop_times)
    write("calendar", ["service_id", "monday", "tuesday", "wednesday", "thursday",
                       "friday", "saturday", "sunday", "start_date", "end_date"],
          [("WK", "1", "1", "1", "1", "1", "1", "1", "20240101", "20241231")])

    updated = sorted(rng.sample(sorted(stops_of), n_entities))
    delay = {t: 60 * rng.randint(1, 10) for t in updated}

    def conns(tids) -> set[tuple[str, str, int]]:
        return {(t, s, delay[t]) for t in tids for s in stops_of[t][:-1]}

    feeds_dir = os.path.join(root, "feeds")
    os.makedirs(feeds_dir, exist_ok=True)
    feeds, golden = [], []
    for k in range(n_polls + 1):
        if k == 0:
            changed = updated
        else:
            changed = rng.sample(updated, rng.randint(*changed_range))
            for t in changed:
                delay[t] = (delay[t] + 60 * rng.randint(1, 9)) % 900
        path = os.path.join(feeds_dir, f"feed-{k:03d}.pb")
        with open(path, "wb") as f:
            f.write(encode_feed([(f"e{j}", t, start_of[t], delay[t]) for j, t in enumerate(updated)]))
        feeds.append(path)
        golden.append(conns(changed))
    return GtfsBundle(static, feeds, golden, n_entities)
