"""URL canonicalization for web-corpus keys — pure JVM Column expressions.

The CC-style pipelines keyed on ``url`` (latest-wins re-crawl dedup,
per-host rollups, manifest bucketing) silently treat
``HTTP://WWW.Example.com:80/a?utm_source=x#top`` and
``http://example.com/a`` as different documents. This module provides the
canonicalization those keys should run on, as composable Spark Column
expressions — regexp/array built-ins only, whole-stage-codegen friendly,
no Python in the hot path (`BASELINE.json` input_hint), and every rule
checked against a pure-Python ``urllib`` reference in the tests.

Reference provenance: the reference mints IRIs through RFC-6570 templates
(`/root/reference/lib/Utils.js:9-66`) and never canonicalizes its inputs —
its natural keys are GTFS ids. At web scale the url IS the natural key, so
the analog of the reference's key discipline is a canonical-url policy.

Canonical policy (documented contract, applied in this order):
1. trim surrounding ASCII whitespace;
2. scheme and host lowercased;
3. all leading ``www.`` labels dropped from the host (all, not one, so
   canonicalization is idempotent — canonical keys must be a fixed point);
4. default ports dropped (``:80`` for http, ``:443`` for https);
5. empty path becomes ``/``;
6. tracking params dropped (``utm_*``, ``fbclid``, ``gclid``, ``msclkid``),
   remaining query params sorted bytewise as whole ``k=v`` strings
   (duplicate keys preserved, order-normalized); an emptied query drops
   its ``?``;
7. the fragment is dropped.

Non-goals (kept out deliberately; document before widening): no percent-
encoding normalization, no path dot-segment resolution, no IDN/punycode,
no public-suffix list — ``registered_domain`` is the last-two-labels
heuristic and says so.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# One regex, five groups: scheme, authority, path, ?query, #fragment.
# Anchored; non-matching strings (no scheme) canonicalize to NULL rather
# than passing through half-normalized.
_URL_RE = r"^\s*([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?\s*$"

#: query parameter names dropped by rule 6 (tracking/click ids)
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid)(=.*)?$"


def _part(col: Column, group: int) -> Column:
    # Trim BEFORE matching: the path group ([^?#]*) would otherwise
    # swallow trailing whitespace into the canonical path (rule 1).
    return F.regexp_extract(F.trim(col), _URL_RE, group)


def url_scheme(col: Column) -> Column:
    """Lowercased scheme, '' when the string is not a scheme://... URL."""
    return F.lower(_part(col, 1))


def url_host(col: Column) -> Column:
    """Lowercased host: authority minus userinfo and port, minus all
    leading ``www.`` labels. '' for non-URLs."""
    auth = F.lower(_part(col, 2))
    no_user = F.element_at(F.split(auth, "@"), -1)
    host = F.element_at(F.split(no_user, ":"), 1)
    return F.regexp_replace(host, r"^(www\.)+", "")


def url_port(col: Column) -> Column:
    """Explicit port as a string ('' when absent)."""
    no_user = F.element_at(F.split(F.lower(_part(col, 2)), "@"), -1)
    return F.when(
        no_user.contains(":"), F.element_at(F.split(no_user, ":"), -1)
    ).otherwise(F.lit(""))


def registered_domain(col: Column) -> Column:
    """Last-two-labels heuristic for the registrable domain
    (``a.b.site.example.com`` -> ``example.com``). An approximation: a
    public-suffix list (out of scope here) is required to get
    ``example.co.uk`` right — this returns ``co.uk`` for those. Hosts
    with fewer than two labels pass through unchanged."""
    h = url_host(col)
    labels = F.split(h, r"\.")
    return F.when(
        F.size(labels) >= 2,
        F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1)),
    ).otherwise(h)


def _canonical_query(col: Column) -> Column:
    """'?a=1&b=2' (sorted, tracking params dropped) or '' — from the raw
    ``?query`` group."""
    q = _part(col, 4)  # '?...' or ''
    params = F.filter(
        F.split(F.substring(q, 2, 2_147_483_647), "&"),
        lambda p: (F.length(p) > 0) & ~p.rlike(TRACKING_PARAM_RE),
    )
    joined = F.concat_ws("&", F.array_sort(params))
    return F.when(
        (F.length(q) > 0) & (F.length(joined) > 0),
        F.concat(F.lit("?"), joined),
    ).otherwise(F.lit(""))


def canonicalize_url(col: Column) -> Column:
    """The canonical form of a URL per the module-docstring policy, or
    NULL when the input does not parse as ``scheme://...``. Deterministic,
    JVM-only; safe as a join/dedup key at any scale."""
    scheme = url_scheme(col)
    host = url_host(col)
    port = url_port(col)
    keep_port = F.when(
        (F.length(port) > 0)
        & ~(
            ((scheme == "http") & (port == "80"))
            | ((scheme == "https") & (port == "443"))
        ),
        F.concat(F.lit(":"), port),
    ).otherwise(F.lit(""))
    path = _part(col, 3)
    path = F.when(F.length(path) == 0, F.lit("/")).otherwise(path)
    return F.when(
        F.length(scheme) > 0,
        F.concat(scheme, F.lit("://"), host, keep_port, path, _canonical_query(col)),
    )
