"""Latest-wins dedup: the engine's re-crawl dedup of a url to its latest
``warc_ts``, the history-store differential of the reference
(`lib/Gtfsrt2LC.js:667-751`). The pipeline and the benchmark run it."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_by_key(
    df: DataFrame,
    key: str,
    order_col: str,
    unique_order: bool = True,
) -> DataFrame:
    """Keep the newest row per key (re-crawl dedup: url -> latest warc_ts).

    Precondition: (key, order_col) pairs are unique and order values are
    NON-NULL (both true for url + crawl timestamp). ``unique_order`` is the
    caller's statement of it: ``True`` is the only accepted value and
    ``False`` raises ``ValueError`` (the benchmark passes it explicitly; a
    later benchmark change can drop the keyword).

    Plan: a duplicate-keys-only stats join. ``(max(order), count)`` per key
    is map-side combinable over two PRUNED columns, the stats are filtered
    to keys that repeat, and the payload rows LEFT-join that set — a row
    survives when its key never repeats or it carries the key's max order.
    The stats side is proportional to the RE-CRAWLED keys (a few percent of
    a crawl log) and is always broadcast, so the wide payload (html bytes)
    never shuffles. The hint is not left to AQE: on a 2.2M-row / 1.9 GB
    corpus, AQE's 10 MB threshold let a ~10 MB dup-stats side fall back to
    a sort-merge join that wrote and re-read every html byte through the
    exchange (the largest non-scaling stage of the N->4N protocol).

    Tie contract: rows of one key that share its max order all survive
    (the triple pipeline absorbs them in its terminal (s,p,o) dedup).
    NULL order contract: max() ignores NULLs and a NULL order never equals
    the key's max, so NULL-order rows lose to any non-null sibling, and a
    key whose order values are ALL NULL loses every row.

    Raises ValueError when ``unique_order`` is False or the input carries
    one of the internal column names.
    """
    if not unique_order:
        raise ValueError(
            "latest_by_key: unique_order=False is not supported; the input "
            "must have unique, non-null (key, order) pairs"
        )
    reserved = {"_lbk_max", "_lbk_h", "_lbk_h2"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"latest_by_key: input columns {sorted(reserved)} collide "
            "with internal names; rename them before calling"
        )
    # Stats are keyed by a 96-bit hash PAIR (xxhash64 + 32-bit murmur3), not
    # the key string: the stats exchange and broadcast move 12 bytes instead
    # of a url, and the hashes never reach the output. One 64-bit hash is
    # not enough: a collision merges two documents' stats and can silently
    # DROP a surviving row, and the birthday bound makes one likely around
    # ~2^32 keys (crawl scale). The pair puts P(any collision) at 4e9 keys
    # below 2^-31. NULL keys hash to NULL, so a NULL-key row matches no
    # stats row and survives on its own non-null order.
    khash1 = F.when(F.col(key).isNotNull(), F.xxhash64(F.col(key)))
    khash2 = F.when(F.col(key).isNotNull(), F.hash(F.col(key)))
    dup_stats = (
        df.groupBy(khash1.alias("_lbk_h"), khash2.alias("_lbk_h2"))
        .agg(F.max(order_col).alias("_lbk_max"), F.count("*").alias("_lbk_n"))
        .where(F.col("_lbk_n") > 1)
        .select("_lbk_h", "_lbk_h2", "_lbk_max")
    )
    return (
        df.join(
            F.broadcast(dup_stats),
            (khash1 == F.col("_lbk_h")) & (khash2 == F.col("_lbk_h2")),
            "left",
        )
        .where(
            (F.col("_lbk_max").isNull() & F.col(order_col).isNotNull())
            | (F.col(order_col) == F.col("_lbk_max"))
        )
        .drop("_lbk_h", "_lbk_h2", "_lbk_max")
    )
