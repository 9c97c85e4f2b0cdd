"""Property-based tests (hypothesis) for the pure kernels.

Spark-free where possible so hypothesis can run hundreds of examples; the
N-Quads round-trip batches all generated strings into one Spark job."""

from __future__ import annotations

import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, given, settings

from gtfsrt2lc_spark.functions.gtfsrt_proto import decode_feed, encode_feed
from gtfsrt2lc_spark.functions.text import extract_text_bytes

# protobuf strings must be valid UTF-8 (no surrogates)
_pb_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30
)

_stu = st.fixed_dictionaries(
    {},
    optional={
        "stop_sequence": st.integers(0, 10_000),
        "stop_id": _pb_text,
        "arrival_delay": st.integers(-86_400, 86_400),
        "arrival_time": st.integers(0, 2**33),
        "departure_delay": st.integers(-86_400, 86_400),
        "departure_time": st.integers(0, 2**33),
        "schedule_relationship": st.integers(0, 3),
    },
)

_entity = st.fixed_dictionaries(
    {"entity_id": _pb_text},
    optional={
        "is_deleted": st.booleans(),
        "trip_update": st.fixed_dictionaries(
            {"trip": st.fixed_dictionaries(
                {},
                optional={
                    "trip_id": _pb_text,
                    "route_id": _pb_text,
                    "direction_id": st.integers(0, 1),
                    "start_time": _pb_text,
                    "start_date": _pb_text,
                    "schedule_relationship": st.integers(0, 3),
                },
            )},
            optional={
                "stop_time_updates": st.lists(_stu, max_size=5),
                "timestamp": st.integers(0, 2**33),
            },
        ),
    },
)


@given(ts=st.integers(1, 2**33), entities=st.lists(_entity, max_size=6))
@settings(max_examples=200, deadline=None)
def test_proto_roundtrip(ts, entities):
    """decode(encode(feed)) preserves every field the engine consumes —
    including negative delays (early vehicles, signed varint)."""
    feed = decode_feed(encode_feed(ts, entities))
    assert feed["header_ts"] == ts
    assert len(feed["entities"]) == len(entities)
    for want, got in zip(entities, feed["entities"]):
        assert got["entity_id"] == want["entity_id"]
        assert got["is_deleted"] == want.get("is_deleted", False)
        wtu = want.get("trip_update")
        if wtu is None:
            assert got["trip_update"] is None
            continue
        gtu = got["trip_update"]
        wtrip = wtu.get("trip", {})
        for k, v in wtrip.items():
            assert gtu["trip"].get(k) == v, (k, v, gtu["trip"])
        wstus = wtu.get("stop_time_updates", [])
        gstus = gtu.get("stop_time_updates", [])
        assert len(gstus) == len(wstus)
        for ws, gs in zip(wstus, gstus):
            for k in ("stop_sequence", "stop_id", "schedule_relationship"):
                assert gs.get(k) == ws.get(k)
            for side in ("arrival", "departure"):
                assert gs.get(f"{side}_delay") == ws.get(f"{side}_delay")
                assert gs.get(f"{side}_time") == ws.get(f"{side}_time")


@given(data=st.binary(max_size=500))
@settings(max_examples=300, deadline=None)
def test_decode_total_on_garbage(data):
    """Arbitrary bytes never crash the decoder (P2-style silent skip)."""
    feed = decode_feed(data)
    assert isinstance(feed["entities"], list)


@given(html=st.binary(max_size=400))
@settings(max_examples=300, deadline=None)
def test_extract_deterministic_and_clean(html):
    """Extraction is deterministic byte-for-byte and emits no raw tags,
    no CR, no double blank lines, no leading/trailing whitespace."""
    a = extract_text_bytes(html)
    b = extract_text_bytes(html)
    assert a == b
    assert "\r" not in a and "\n\n" not in a
    assert a == a.strip()


@pytest.mark.usefixtures("spark")
@given(strings=st.lists(
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=40),
    min_size=1, max_size=50, unique=True,
))
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_nquads_literal_roundtrip(spark, strings, tmp_path_factory):
    """Literal escape -> write -> parse -> unescape is the identity for
    arbitrary object strings (quotes, backslashes, newlines, tabs...)."""
    from gtfsrt2lc_spark.sources.nquads import read_nquads, to_nquads_lines

    # strings starting like IRIs/bnodes serialize as IRIs, not literals
    strings = [s for s in strings
               if not s.startswith(("http://", "https://", "_:"))]
    if not strings:
        return
    rows = [(f"http://ex.org/s/{i}", "http://ex.org/p", s)
            for i, s in enumerate(strings)]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = str(tmp_path_factory.mktemp("nq"))
    to_nquads_lines(df, graph=None).write.mode("overwrite").text(out)
    back = read_nquads(spark, out)
    got = {r.obj for r in back.collect()}
    assert got == set(strings)


# hostile alphabet: heavy weighting on the escape chain's trigger characters
# (quotes, backslashes, control chars) mixed with arbitrary non-surrogate
# unicode — the fixed escape-trigger corpus in the serializer tests can miss
# interactions like a backslash immediately before a quote
_hostile = st.text(
    alphabet=st.one_of(
        st.sampled_from(list('"\\\n\r\t\x00\x01\x1b\x7f  ')),
        st.characters(blacklist_categories=("Cs",)),
    ),
    min_size=1,
    max_size=40,
)


def _unescape_mirror(s: str) -> str:
    """Python mirror of the N-Quads/Turtle literal escape inverse."""
    import re as _re

    return _re.sub(
        r"\\(.)",
        lambda m: {"\\": "\\", '"': '"', "n": "\n", "r": "\r", "t": "\t"}[m.group(1)],
        s,
        flags=_re.DOTALL,
    )


@pytest.mark.usefixtures("spark")
@given(strings=st.lists(_hostile, min_size=1, max_size=40, unique=True))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_turtle_literal_escape_hostile(spark, strings):
    """Turtle object literals under hostile strings: every statement is
    exactly one physical line (newlines/CRs escaped), the quoted literal
    matches the N-Quads grammar, and unescaping returns the original."""
    import re as _re

    from gtfsrt2lc_spark.sources.nquads import to_turtle_lines

    strings = [s for s in strings
               if not s.startswith(("http://", "https://", "_:"))]
    if not strings:
        return
    rows = [(f"http://ex.org/s/{i}", "http://ex.org/p", s)
            for i, s in enumerate(strings)]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    lines = [r["line"] for r in to_turtle_lines(df).collect()]
    assert len(lines) == len(strings)
    lit_re = _re.compile(r'"((?:[^"\\\n\r]|\\.)*)" \.$', _re.DOTALL)
    got = set()
    for ln in lines:
        assert "\n" not in ln and "\r" not in ln, repr(ln)
        m = lit_re.search(ln)
        assert m is not None, repr(ln)
        got.add(_unescape_mirror(m.group(1)))
    assert got == set(strings)


@pytest.mark.usefixtures("spark")
@given(strings=st.lists(_hostile, min_size=1, max_size=30, unique=True))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_jsonld_node_roundtrip_hostile(spark, strings):
    """JSON-LD node lines under hostile subjects/objects: every node is one
    physical line of valid JSON and json.loads recovers the exact (subj ->
    sorted objs) mapping."""
    import json as _json

    from gtfsrt2lc_spark.sources.jsonld import to_jsonld_lines

    rows = [(f"http://ex.org/s/{i}", "http://ex.org/p", s, "http://ex.org/g")
            for i, s in enumerate(strings)]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    lines = [r["line"] for r in to_jsonld_lines(df).collect()]
    assert len(lines) == len(strings)
    got = {}
    for ln in lines:
        assert "\n" not in ln and "\r" not in ln, repr(ln)
        node = _json.loads(ln)
        got[node["@id"]] = node["props"]["http://ex.org/p"]
    expect = {f"http://ex.org/s/{i}": [s] for i, s in enumerate(strings)}
    assert got == expect


# -- reference formulation of the extraction spec (module docstring), frozen
#    here so the optimized body is provably byte-identical ------------------
def _extract_reference(html: bytes | None) -> str | None:
    import re as _re

    from gtfsrt2lc_spark.functions import text as T

    if html is None:
        return None
    s = html.decode("utf-8", errors="replace")
    s = T._RE_COMMENT.sub("", s)
    s = T._RE_DROP.sub("", s)
    s = T._RE_BLOCK.sub("\n", s)
    s = T._RE_TAG.sub("", s)
    for ent, ch in T._NAMED_ENTITIES.items():
        s = s.replace(ent, ch)
    s = T._RE_NUMERIC_ENT.sub(T._unescape_numeric, s)
    s = _re.sub(r"[ \t\r\f\v]+", " ", s)
    lines = [ln.strip() for ln in s.split("\n")]
    s = "\n".join(lines)
    s = _re.sub(r"\n{2,}", "\n", s)
    return s.strip()


@given(html=st.binary(max_size=600))
@settings(max_examples=500, deadline=None)
def test_extract_optimized_equivalence(html):
    assert extract_text_bytes(html) == _extract_reference(html)


@given(html=st.text(max_size=300))
@settings(max_examples=300, deadline=None)
def test_extract_optimized_equivalence_unicode(html):
    b = html.encode("utf-8", "surrogatepass")
    assert extract_text_bytes(b) == _extract_reference(b)


# ---- BMP decode round-trip (pure numpy kernel) ----------------------------

@given(
    w=st.integers(1, 9),
    h=st.integers(1, 6),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_bmp_decode_roundtrip(w, h, data):
    """encode(pixels) -> decode == pixels for arbitrary sizes (exercises
    bottom-up row order, BGR swap and 4-byte row padding)."""
    import struct as _struct

    from gtfsrt2lc_spark.functions.multimodal import decode_bmp

    px = [
        [tuple(data.draw(st.integers(0, 255)) for _ in range(3)) for _ in range(w)]
        for _ in range(h)
    ]
    row_bytes = (w * 3 + 3) & ~3
    body = b""
    for row in reversed(px):
        line = b"".join(bytes((b_, g, r)) for (r, g, b_) in row)
        body += line + b"\x00" * (row_bytes - len(line))
    blob = (
        b"BM" + _struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
        + body
    )
    arr = decode_bmp(blob)
    assert arr.shape == (h, w, 3)
    got = [
        [tuple(int(v) for v in arr[y][x]) for x in range(w)] for y in range(h)
    ]
    assert got == px


# ---- PNG decode round-trip (all five scanline filters) --------------------

@given(
    w=st.integers(1, 7),
    h=st.integers(1, 5),
    color=st.sampled_from([0, 2, 6]),
    data=st.data(),
)
@settings(max_examples=150, deadline=None)
def test_png_decode_roundtrip(w, h, color, data):
    """encode(pixels, random per-row filters) -> decode == pixels across
    gray/RGB/RGBA and arbitrary filter sequences (the sequential sub/avg/
    paeth recurrences are where off-by-one-pixel bugs live)."""
    from gtfsrt2lc_spark.functions.multimodal import decode_png
    from tests.test_multimodal import _png_full

    ch = {0: 1, 2: 3, 6: 4}[color]
    px = [
        [
            tuple(data.draw(st.integers(0, 255)) for _ in range(ch))
            if ch > 1
            else data.draw(st.integers(0, 255))
            for _ in range(w)
        ]
        for _ in range(h)
    ]
    filters = [data.draw(st.integers(0, 4)) for _ in range(h)]
    arr = decode_png(_png_full(px, color=color, filters=filters))
    assert arr.shape == (h, w, 3)
    for y in range(h):
        for x in range(w):
            p = px[y][x]
            rgb = (p, p, p) if ch == 1 else tuple(p[:3])
            assert tuple(int(v) for v in arr[y][x]) == rgb, (y, x, filters)


# ---- GIF decode round-trip (LZW + palette + interlace) --------------------

@given(
    w=st.integers(1, 10),
    h=st.integers(1, 9),
    ncolors=st.integers(2, 8),
    interlace=st.booleans(),
    data=st.data(),
)
@settings(max_examples=120, deadline=None)
def test_gif_decode_roundtrip(w, h, ncolors, interlace, data):
    """encode(random palette + indices, optional interlace) -> decode ==
    palette[indices]: exercises the LZW width schedule, clear handling, and
    the 4-pass deinterlace row mapping."""
    from gtfsrt2lc_spark.functions.multimodal import decode_gif
    from tests.test_multimodal import _gif_full

    palette = [
        tuple(data.draw(st.integers(0, 255)) for _ in range(3))
        for _ in range(ncolors)
    ]
    px = [
        [data.draw(st.integers(0, ncolors - 1)) for _ in range(w)]
        for _ in range(h)
    ]
    arr = decode_gif(_gif_full(px, palette, interlace=interlace))
    assert arr.shape == (h, w, 3)
    for y in range(h):
        for x in range(w):
            assert tuple(int(v) for v in arr[y][x]) == palette[px[y][x]], (y, x)
