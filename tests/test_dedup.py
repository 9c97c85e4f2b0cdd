"""latest_by_key: the one latest-wins dedup (re-crawl url -> latest warc_ts).

Pins its row contract (newest row per key, ties all survive, NULL orders
lose), its input guards and its plan shape (the payload never shuffles).
"""

from __future__ import annotations

import pytest

from gtfsrt2lc_spark.operators.dedup import latest_by_key


def test_latest_by_key(spark):
    """Newest row per key; two rows of one key sharing the max order both
    survive (the tie contract)."""
    df = spark.createDataFrame(
        [("u", 1, "old"), ("u", 3, "new"), ("u", 2, "mid"), ("v", 1, "only"),
         ("t", 7, "tie-a"), ("t", 7, "tie-b"), ("t", 4, "older")],
        "k string, ts long, v string",
    )
    got = {(r["k"], r["v"]) for r in latest_by_key(df, "k", "ts").collect()}
    assert got == {("u", "new"), ("v", "only"), ("t", "tie-a"), ("t", "tie-b")}


def test_latest_by_key_null_order_contract(spark):
    """A NULL order loses to any non-null sibling, and a key whose orders
    are all NULL loses every row. ``unique_order=False`` and a reserved
    internal column are rejected, not ignored or silently overwritten."""
    df = spark.createDataFrame(
        [("u", 1, "old"), ("u", 3, "new"), ("v", 2, "only"),
         ("w", None, "null-single"), ("x", None, "null-dup-a"),
         ("x", None, "null-dup-b"), ("y", 5, "win"), ("y", None, "lose")],
        "k string, ts int, v string",
    )
    got = {(r["k"], r["v"]) for r in latest_by_key(df, "k", "ts").collect()}
    assert got == {("u", "new"), ("v", "only"), ("y", "win")}
    with pytest.raises(ValueError):
        latest_by_key(df, "k", "ts", unique_order=False)
    with pytest.raises(ValueError):
        latest_by_key(df.withColumnRenamed("v", "_lbk_max"), "k", "ts")


def test_latest_by_key_unique_order_never_shuffles_payload(spark):
    """Plan-shape guard for the latest-wins scale path: with unique_order
    the wide payload column must not appear in any Exchange input — the
    winner agg shuffles only (key, order)."""
    from gtfsrt2lc_spark.operators.dedup import latest_by_key

    df = spark.createDataFrame(
        [("u1", 1, b"x" * 10), ("u1", 2, b"y" * 10), ("u2", 1, b"z" * 10)],
        "url string, warc_ts int, html binary",
    )
    fast = latest_by_key(df, "url", "warc_ts", unique_order=True)
    assert {(r.url, r.warc_ts) for r in fast.collect()} == {("u1", 2), ("u2", 1)}
    plan = fast._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "html" not in line, line
