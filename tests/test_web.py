"""URL canonicalization (functions/web.py): policy table + idempotence."""

from __future__ import annotations

import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F

from gtfsrt2lc_spark.functions.web import (
    canonicalize_url,
    registered_domain,
    url_host,
)

# (input, canonical, host, domain) — one row per policy rule, plus the
# hostile edges: userinfo with a colon, duplicate query keys needing a
# bytewise sort, a query that empties entirely, stacked www labels,
# non-http schemes (no default-port rule), surrounding whitespace.
CASES = [
    ("HTTP://WWW.Example.COM:80/a?b=2&a=1#f",
     "http://example.com/a?a=1&b=2", "example.com", "example.com"),
    ("https://example.com:443/", "https://example.com/",
     "example.com", "example.com"),
    ("https://example.com:8443/x", "https://example.com:8443/x",
     "example.com", "example.com"),
    ("http://example.com", "http://example.com/",
     "example.com", "example.com"),
    ("http://user:pw@example.com/x", "http://example.com/x",
     "example.com", "example.com"),
    ("http://example.com/?utm_source=a&utm_medium=b&gclid=1&fbclid=2&msclkid=3",
     "http://example.com/", "example.com", "example.com"),
    ("http://example.com/a?fbclid=1&x=2", "http://example.com/a?x=2",
     "example.com", "example.com"),
    ("http://e.com/?b=1&a=2&a=10", "http://e.com/?a=10&a=2&b=1",
     "e.com", "e.com"),
    ("http://www.www.example.com/x", "http://example.com/x",
     "example.com", "example.com"),
    ("http://a.b.c.example.org/", "http://a.b.c.example.org/",
     "a.b.c.example.org", "example.org"),
    ("http://localhost/x", "http://localhost/x", "localhost", "localhost"),
    ("ftp://Files.Example.com:21/pub", "ftp://files.example.com:21/pub",
     "files.example.com", "example.com"),
    ("  http://example.com/x  ", "http://example.com/x",
     "example.com", "example.com"),
    ("not a url", None, "", ""),
    ("", None, "", ""),
]


def test_policy_table(spark):
    df = spark.createDataFrame([(c[0],) for c in CASES], "url string")
    rows = df.select(
        "url",
        canonicalize_url(F.col("url")).alias("canon"),
        url_host(F.col("url")).alias("host"),
        registered_domain(F.col("url")).alias("domain"),
    ).collect()
    got = {r["url"]: (r["canon"], r["host"], r["domain"]) for r in rows}
    for url, canon, host, domain in CASES:
        assert got[url] == (canon, host, domain), url


_url = st.builds(
    lambda scheme, www, host, port, path, params, frag: (
        f"{scheme}://{www}{host}{port}{path}"
        + ("?" + "&".join(params) if params else "")
        + frag
    ),
    scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS", "ftp"]),
    www=st.sampled_from(["", "www.", "WWW.", "www.www."]),
    host=st.sampled_from(["Example.com", "a.B.example.ORG", "localhost", "x.co"]),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=st.sampled_from(["", "/", "/a/b", "/a%20b", "//x"]),
    params=st.lists(
        st.sampled_from(["a=1", "a=2", "b=", "utm_source=x", "gclid=1", "z"]),
        max_size=4,
    ),
    frag=st.sampled_from(["", "#f", "#a?b=1"]),
)


@pytest.mark.usefixtures("spark")
@given(urls=st.lists(_url, min_size=1, max_size=30, unique=True))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_canonicalize_is_idempotent(spark, urls):
    """canonicalize(canonicalize(u)) == canonicalize(u): canonical keys
    must be a fixed point, or two dedup passes disagree with one."""
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        canonicalize_url(F.col("url")).alias("c1"),
        canonicalize_url(canonicalize_url(F.col("url"))).alias("c2"),
    ).collect()
    for r in rows:
        assert r["c1"] == r["c2"]
        assert r["c1"] is None or " " not in r["c1"]

# ---------------------------------------------------------------------------
# pipeline integration: canonical_urls as the re-crawl dedup key


def _pipe(corpus_dfs, **kw):
    from gtfsrt2lc_spark.fixtures.pages import PREDICATES
    from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline

    _, records, surfaces, sameas = corpus_dfs
    preds = {ph: loc for ph, (loc, _, _) in PREDICATES.items()}
    return KGPipeline(records, surfaces, sameas, preds, **kw)


def test_canonical_urls_collapse_recrawl_variants(spark, corpus_dfs):
    """Three url-spellings of one document (www/default-port/tracking-param
    variants) are three keys for the default pipeline but ONE key — the
    latest snapshot — under canonical_urls=True."""
    from datetime import datetime

    pages = corpus_dfs[0]
    old = b"<html><body><p>Acme Corp acquired Initech.</p></body></html>"
    new = b"<html><body><p>Acme Corp acquired Hooli.</p></body></html>"
    rows = [
        ("HTTP://WWW.Dup.Example.COM:80/a?utm_source=f#x",
         datetime(2024, 1, 1), old, None, "en"),
        ("http://dup.example.com/a?gclid=zzz",
         datetime(2024, 1, 2), old, None, "en"),
        ("http://dup.example.com:80/a",
         datetime(2024, 1, 3), new, None, "en"),
    ]
    variants = spark.createDataFrame(rows, pages.schema)

    default_rows = _pipe(corpus_dfs).extracted(variants).collect()
    assert len(default_rows) == 3  # raw keys: no collapse

    canon_rows = _pipe(corpus_dfs, canonical_urls=True).extracted(variants).collect()
    assert len(canon_rows) == 1
    assert canon_rows[0]["url"] == "http://dup.example.com/a"
    assert "Hooli" in canon_rows[0]["extracted_text"]  # latest won


def test_canonical_urls_parity_on_clean_corpus(spark, corpus_dfs, corpus):
    """Fixture urls are already canonical (https, no www/port/query), so
    canonical_urls=True must be a no-op on the triple set: same triples,
    same provenance graphs."""
    pages = corpus_dfs[0]
    base = _pipe(corpus_dfs).triples(pages)
    canon = _pipe(corpus_dfs, canonical_urls=True).triples(pages)
    cols = ["subj", "pred", "obj", "graph"]
    assert sorted(map(tuple, base.select(*cols).collect())) == sorted(
        map(tuple, canon.select(*cols).collect())
    )


def test_canonical_bucketing_no_stale_leak(spark, corpus_dfs, tmp_path):
    """run_incremental buckets by the CANONICAL key (pipeline.page_key).

    The hazard is crash-RESUME: within one run latest-wins is global, but
    a resumed run anti-joins done buckets away. If a document's newest
    spelling hashed into a done bucket while a stale older spelling hashed
    into a pending one (possible only when bucketing keys on RAW url),
    the resumed run sees the stale snapshot alone, it wins, and its
    triples leak into the store. Simulated here by pre-seeding the
    manifest with half the buckets marked done. The poison fact uses two
    real KB orgs, so it survives entity linking IF a stale snapshot ever
    wins."""
    from itertools import permutations

    from gtfsrt2lc_spark.fixtures.pages import ORGS, entity_iri, predicate_iri
    from gtfsrt2lc_spark.plans.manifest import read_triples, run_incremental

    pages = corpus_dfs[0]
    clean = {
        tuple(r)
        for r in _pipe(corpus_dfs)
        .triples(pages)
        .select("subj", "pred", "obj")
        .distinct()
        .collect()
    }
    # pick the first org pair whose "acquired" fact is corpus-novel, so the
    # poison is detectable: present in the store == a stale snapshot won
    acq = predicate_iri("acquired")
    s_org, o_org = next(
        (a, b)
        for a, b in permutations(ORGS, 2)
        if (entity_iri(a), acq, entity_iri(b)) not in clean
    )
    poison = (entity_iri(s_org), acq, entity_iri(o_org))
    # losing variants: 1s earlier, html carrying the linkable poison fact
    messy = pages.selectExpr(
        "concat('HTTPS://WWW.', substring(url, 9), '?utm_source=f#x') AS url",
        "warc_ts - INTERVAL 1 SECOND AS warc_ts",
        f"cast('<html><body><p>{s_org} acquired {o_org}.</p></body>"
        "</html>' as binary) AS html",
        "text", "lang",
    )
    dirty = pages.unionByName(messy)
    pipe = _pipe(corpus_dfs, canonical_urls=True)
    out = str(tmp_path / "kg")
    # simulate a crashed first run: buckets 0-7 already recorded done
    from gtfsrt2lc_spark.functions.hadoop_fs import commit_generations

    commit_generations(spark, f"{out}/_manifest", f"{out}/triples", 1, {
        "generations": [],
        "parts": [
            {"part_id": p, "n_docs": 0, "n_triples": 0, "input_fingerprint": 0,
             "run_id": "crashed", "wall_ms": 0, "status": "done"}
            for p in range(8)
        ],
    })
    run_incremental(spark, dirty, pipe, out, n_buckets=16, run_id="resume")
    got = {
        (r.subj, r.pred, r.obj)
        for r in read_triples(spark, out).select("subj", "pred", "obj").collect()
    }
    assert poison not in got
    # every triple the resumed half emitted is a clean-corpus triple
    assert got <= clean


def _py_canonicalize(u: str) -> str | None:
    """Independent reference implementation of the module policy, built on
    urllib.parse instead of the Spark regex/array expressions — a formulation
    bug in one is unlikely to reproduce in the other."""
    import re
    from urllib.parse import urlsplit

    u = u.strip()
    if not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", u):
        return None
    parts = urlsplit(u)
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    host = re.sub(r"^(www\.)+", "", host)
    port = ""
    netloc_nouser = parts.netloc.rsplit("@", 1)[-1]
    if ":" in netloc_nouser:
        p = netloc_nouser.rsplit(":", 1)[1]
        if not ((scheme == "http" and p == "80") or (scheme == "https" and p == "443")):
            port = ":" + p
    path = parts.path or "/"
    keep = [
        kv
        for kv in parts.query.split("&")
        if kv and not re.match(r"^(utm_[^=]*|fbclid|gclid|msclkid)(=.*)?$", kv)
    ]
    q = "?" + "&".join(sorted(keep)) if parts.query and keep else ""
    return f"{scheme}://{host}{port}{path}{q}"


@pytest.mark.usefixtures("spark")
@given(urls=st.lists(_url, min_size=1, max_size=40, unique=True))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_canonicalize_matches_urllib_reference(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select("url", canonicalize_url(F.col("url")).alias("c")).collect()
    for r in rows:
        assert r["c"] == _py_canonicalize(r["url"]), r["url"]
