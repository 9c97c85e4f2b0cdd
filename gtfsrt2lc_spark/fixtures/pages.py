"""Deterministic synthetic web-page corpus with golden triples by construction.

Mirrors the reference's fixture strategy (recorded GTFS-RT feeds + static GTFS
zips with *known* expected outputs — `test/gtfsrt2lc.test.js:394-485` asserts
exact golden connection counts). Here the corpus is generated from a fixed
seed, and the expected (subj, pred, obj) triple set is derivable at build time
because every fact sentence is planted.

Planted phenomena (FIXTURES.md §6):
  * hot-domain key skew (~20% of pages share one domain)
  * duplicate urls (re-crawls; later warc_ts wins) — exercises latest-wins dedup
  * near-duplicate pages (same text, different url) — exercises triple dedup
  * malformed HTML — exercises extraction robustness
  * entity KB split across multiple records joined by sameAs edges —
    exercises connected-components canonicalization
  * no wall-clock anywhere: timestamps derive from the page index
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

PEOPLE = [
    "Ada Lovelace", "Alan Turing", "Grace Hopper", "Edsger Dijkstra",
    "Barbara Liskov", "John McCarthy", "Donald Knuth", "Margaret Hamilton",
    "Tim Berners", "Annie Easley", "Radia Perlman", "Vint Cerf",
]
ORGS = [
    "Acme Corp", "Globex Inc", "Initech", "Umbrella Labs",
    "Stark Industries", "Wayne Enterprises", "Tyrell Corp", "Hooli",
    "Pied Piper", "Aperture Science", "Black Mesa", "Cyberdyne Systems",
]
PLACES = [
    "London", "Zurich", "Kyoto", "Nairobi", "Oslo", "Porto",
    "Quebec", "Austin", "Helsinki", "Lagos", "Lima", "Taipei",
]

# phrase -> (predicate local name, subject type, object type)
PREDICATES: dict[str, tuple[str, str, str]] = {
    "works for": ("worksFor", "person", "org"),
    "was born in": ("birthPlace", "person", "place"),
    "founded": ("founded", "person", "org"),
    "is located in": ("locatedIn", "org", "place"),
    "acquired": ("acquired", "org", "org"),
    "married": ("spouse", "person", "person"),
}

FILLER = (
    "the quick brown fox jumps over a lazy dog while rivers flow and "
    "mountains stand tall under a pale morning sky full of drifting clouds"
).split()

ENTITY_NS = "http://example.org/kg/entity/"
ONTOLOGY_NS = "http://example.org/kg/ontology#"


def slugify(name: str) -> str:
    """Same transform the IRI-minting layer applies (functions/iri.py)."""
    out = []
    prev_us = False
    for ch in name:
        if ch.isalnum():
            out.append(ch)
            prev_us = False
        elif not prev_us:
            out.append("_")
            prev_us = True
    return "".join(out).strip("_")


def entity_iri(name: str) -> str:
    return ENTITY_NS + slugify(name)


def predicate_iri(local: str) -> str:
    return ONTOLOGY_NS + local


def _person_aliases(name: str) -> list[str]:
    first, last = name.split(" ", 1)
    return [name, f"{first[0]}. {last}"]


def _org_aliases(name: str) -> list[str]:
    parts = name.split(" ")
    aliases = [name]
    if len(parts) > 1:
        aliases.append(parts[0])  # "Acme Corp" -> "Acme"
    return aliases


@dataclass
class Corpus:
    """Pages + KB + golden triples, all plain Python (Spark-free)."""

    pages: list[dict] = field(default_factory=list)
    # KB records: (record_id, name, entity_type)
    records: list[tuple[str, str, str]] = field(default_factory=list)
    # surface dictionary: (surface, record_id, prior)
    surfaces: list[tuple[str, str, float]] = field(default_factory=list)
    # sameAs edges between KB records of one real-world entity
    sameas: list[tuple[str, str]] = field(default_factory=list)
    # record_id -> canonical name (after resolving sameAs components)
    canonical: dict[str, str] = field(default_factory=dict)
    # golden deduplicated triple set (subj_iri, pred_iri, obj_iri)
    golden_triples: set[tuple[str, str, str]] = field(default_factory=set)
    # url -> golden extracted text (byte-identity fixture)
    golden_text: dict[str, str] = field(default_factory=dict)


def _build_kb(rng: random.Random) -> Corpus:
    c = Corpus()
    rid = 0
    for etype, names, alias_fn in (
        ("person", PEOPLE, _person_aliases),
        ("org", ORGS, _org_aliases),
        ("place", PLACES, lambda n: [n]),
    ):
        for name in names:
            aliases = alias_fn(name)
            # every 4th entity is split into two KB records joined by sameAs:
            # the canonical record gets the primary alias, a secondary record
            # gets the rest (CC must merge them; ref analog: the repair pass
            # unifying partial records, lib/Gtfsrt2LC.js:438-530)
            split = len(aliases) > 1 and (rid % 4 == 0)
            rid_a = f"R{rid:04d}"
            rid += 1
            c.records.append((rid_a, name, etype))
            c.canonical[rid_a] = name
            if split:
                rid_b = f"R{rid:04d}"
                rid += 1
                c.records.append((rid_b, aliases[1], etype))
                c.canonical[rid_b] = name  # canonical = name of min record id
                c.sameas.append((rid_a, rid_b))
                c.surfaces.append((aliases[0], rid_a, 1.0))
                for a in aliases[1:]:
                    c.surfaces.append((a, rid_b, 1.0))
            else:
                for a in aliases:
                    c.surfaces.append((a, rid_a, 1.0))
    return c


_HTML_TEMPLATE = """<!DOCTYPE html>
<html lang="{lang}">
<head>
<title>{title}</title>
<script type="text/javascript">var tracker = "{tracker}"; if (1 < 2) {{ track(); }}</script>
<style>.nav {{ color: #333; }} body {{ margin: 0; }}</style>
</head>
<body>
<nav><ul><li>Home</li><li>About</li><li>Contact</li></ul></nav>
<!-- boilerplate chrome; must be stripped -->
<header><h1>{title}</h1></header>
<article>
{paragraphs}
</article>
<footer>&copy; 2024 {domain} &mdash; all rights reserved</footer>
</body>
</html>"""


def _render_page(url: str, domain: str, lang: str, sentences: list[str], malformed: bool) -> str:
    paragraphs = "\n".join(f"<p>{s}</p>" for s in sentences)
    if malformed:
        # unclosed tags + stray '<' — extractor must still recover sentences
        paragraphs += "\n<div><p>trailing unclosed < fragment"
    return _HTML_TEMPLATE.format(
        lang=lang,
        title=url,
        tracker=domain,
        paragraphs=paragraphs,
        domain=domain,
    )


def _noise_sentence(rng: random.Random) -> str:
    n = rng.randint(5, 10)
    words = [rng.choice(FILLER) for _ in range(n)]
    return " ".join(words) + "."


def build_corpus(
    n_pages: int = 300, seed: int = 42, noise_range: tuple[int, int] = (1, 3)
) -> Corpus:
    """Deterministic corpus. Same (n_pages, seed, noise_range) ->
    byte-identical output. ``noise_range`` controls filler sentences per page
    (bench corpora use large values so per-page compute dominates job
    overhead; golden-test corpora keep the default)."""
    rng = random.Random(seed)
    c = _build_kb(rng)

    by_type: dict[str, list[tuple[str, str]]] = {"person": [], "org": [], "place": []}
    rec_type = {r: t for r, _, t in c.records}
    for surface, rid, _prior in c.surfaces:
        by_type[rec_type[rid]].append((surface, rid))

    base_ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    phrase_list = sorted(PREDICATES)

    for i in range(n_pages):
        hot = rng.random() < 0.20
        domain = "hot.example.com" if hot else f"site{rng.randrange(40)}.example.org"
        url = f"https://{domain}/page/{i}"
        lang = "de" if rng.random() < 0.05 else "en"
        warc_ts = base_ts + timedelta(seconds=i * 17)

        facts: list[tuple[str, str, str]] = []  # golden (s,p,o) IRIs
        sentences: list[str] = []
        if lang == "en":
            for _ in range(rng.randint(1, 5)):
                phrase = rng.choice(phrase_list)
                pred_local, st, ot = PREDICATES[phrase]
                subj_surface, subj_rid = rng.choice(by_type[st])
                obj_surface, obj_rid = rng.choice(by_type[ot])
                if subj_rid == obj_rid:
                    continue
                sentences.append(f"{subj_surface} {phrase} {obj_surface}.")
                facts.append(
                    (
                        entity_iri(c.canonical[subj_rid]),
                        predicate_iri(pred_local),
                        entity_iri(c.canonical[obj_rid]),
                    )
                )
        for _ in range(rng.randint(*noise_range)):
            sentences.insert(rng.randrange(len(sentences) + 1), _noise_sentence(rng))

        malformed = rng.random() < 0.10
        html = _render_page(url, domain, lang, sentences, malformed)

        # ~5% re-crawled urls: an older, truncated snapshot of the same url.
        # Latest-wins dedup must drop it, so its extra facts are NOT golden.
        if rng.random() < 0.05 and sentences:
            old_sentences = sentences[: max(1, len(sentences) // 2)]
            old_html = _render_page(url, domain, lang, old_sentences, False)
            c.pages.append(
                {
                    "url": url,
                    "warc_ts": warc_ts - timedelta(days=30),
                    "html": old_html.encode("utf-8"),
                    "text": None,
                    "lang": lang,
                }
            )

        # ~4% near-duplicate page: same content republished at another url
        # (triples dedup to the same set; MinHash near-dup finds the pair)
        if rng.random() < 0.04:
            dup_url = f"https://mirror{rng.randrange(5)}.example.net/copy/{i}"
            dup_html = _render_page(dup_url, "mirror.example.net", lang, sentences, False)
            c.pages.append(
                {
                    "url": dup_url,
                    "warc_ts": warc_ts + timedelta(seconds=1),
                    "html": dup_html.encode("utf-8"),
                    "text": None,
                    "lang": lang,
                }
            )
            for f in facts:
                c.golden_triples.add(f)

        c.pages.append(
            {
                "url": url,
                "warc_ts": warc_ts,
                "html": html.encode("utf-8"),
                # 'text' pre-populated for half the pages (input_hint column);
                # pipeline recomputes from html and must match byte-for-byte
                "text": None,
                "lang": lang,
            }
        )
        for f in facts:
            c.golden_triples.add(f)

    # fill golden extracted text + the optional pre-extracted 'text' column
    from gtfsrt2lc_spark.functions.text import extract_text_bytes

    latest: dict[str, dict] = {}
    for p in c.pages:
        cur = latest.get(p["url"])
        if cur is None or p["warc_ts"] > cur["warc_ts"]:
            latest[p["url"]] = p
    for j, p in enumerate(c.pages):
        extracted = extract_text_bytes(p["html"])
        if j % 2 == 0:
            p["text"] = extracted
    for url, p in latest.items():
        c.golden_text[url] = extract_text_bytes(p["html"])

    return c


def corpus_dataframes(spark, corpus: Corpus):
    """Materialize the corpus as Spark DataFrames with explicit schemas."""
    from pyspark.sql import types as T

    pages_schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("html", T.BinaryType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )
    pages = spark.createDataFrame(
        [
            (p["url"], p["warc_ts"].replace(tzinfo=None), p["html"], p["text"], p["lang"])
            for p in corpus.pages
        ],
        pages_schema,
    )
    records = spark.createDataFrame(
        corpus.records, "record_id string, name string, entity_type string"
    )
    surfaces = spark.createDataFrame(
        corpus.surfaces, "surface string, record_id string, prior double"
    )
    sameas = spark.createDataFrame(corpus.sameas, "src string, dst string")
    return pages, records, surfaces, sameas


def dirty_pages(spark, schema, n_dirty: int):
    """Pages whose fact sentences carry out-of-dictionary (typo'd) surfaces,
    deterministically derived from the KB lists — guarantees the KG
    pipeline's miss counter is non-zero so the fuzzy (MinHash-LSH) and
    distributed linking branches actually execute under measurement. Typos
    double the last letter of the subject surface (fuzzy-recoverable shape,
    same as tests/test_pipeline_golden.py). Shared by the flagship-protocol
    bench and the scaling protocol's --dirty-pages mode."""
    rows = []
    for i in range(n_dirty):
        person = PEOPLE[i % len(PEOPLE)]
        org = ORGS[i % len(ORGS)]
        sent = f"{person}{person[-1]} works for {org}."
        url = f"https://dirty.example.net/bench/{i}"
        html = _render_page(url, "dirty.example.net", "en", [sent], False)
        rows.append(
            (url, datetime(2024, 6, 1) + timedelta(seconds=i),
             html.encode("utf-8"), None, "en")
        )
    return spark.createDataFrame(rows, schema)
