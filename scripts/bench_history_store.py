"""HistoryStore commit-cost micro-bench: O(delta), not O(store).

The store is an append-only log of generations (plans/gtfs.py): a commit
writes only the fresh states as one new generation, and once
``MAX_GENERATIONS`` are live the next commit compacts them into one. This
bench MEASURES both costs: build a store with N keys, commit a small delta
and record (a) wall time, (b) how many parquet data files the commit wrote,
and (c) how many pre-existing files it left byte-identical; then fill the
store up to the cap with more small deltas and time the compacting commit,
which rewrites all N keys. The delta commit's cost stays flat as N grows;
the compaction's scales with N and runs once per ``MAX_GENERATIONS - 1``
delta commits.

Writes BENCH/history_store_run.json. Usage:
    python scripts/bench_history_store.py [--sizes 20000 100000 ...]
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _data_files(root: str) -> dict[str, int]:
    return {
        str(p): p.stat().st_mtime_ns
        for p in pathlib.Path(root).rglob("*.parquet")
        if p.is_file()
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs="+", default=[20_000, 100_000, 500_000])
    ap.add_argument("--delta", type=int, default=10)
    args = ap.parse_args()

    from gtfsrt2lc_spark.plans.gtfs import MAX_GENERATIONS, HistoryStore
    from gtfsrt2lc_spark.session import get_spark

    spark = get_spark(app_name="history_store_bench", master="local[4]",
                      shuffle_partitions=4)

    def states(lo: int, hi: int, dep: int = 60):
        return spark.range(lo, hi).selectExpr(
            "concat('rule/', id) AS rule_key",
            "'20240115' AS service_day",
            f"CAST({dep} AS BIGINT) AS departure_delay",
            "CAST(60 AS BIGINT) AS arrival_delay",
            "'Connection' AS type",
        )

    def timed_commit(store, df) -> float:
        t0 = time.monotonic()
        store.commit(df)
        return time.monotonic() - t0

    out = {"max_generations": MAX_GENERATIONS, "delta_keys": args.delta, "sizes": []}
    for n in args.sizes:
        root = tempfile.mkdtemp(prefix="histbench_")
        store = HistoryStore(spark, root)
        full_s = timed_commit(store, states(0, n))
        before = _data_files(root)

        delta_s = timed_commit(store, states(n, n + args.delta, dep=99))
        after = _data_files(root)
        untouched = sum(
            1 for p, m in before.items() if p in after and after[p] == m
        )
        written = len([p for p in after if p not in before])

        # overlapping deltas until the cap; the next commit compacts
        k = 2
        while len(store._manifest()["generations"]) < MAX_GENERATIONS:
            store.commit(states(n - k * args.delta, n - (k - 1) * args.delta, dep=k))
            k += 1
        compact_s = timed_commit(store, states(0, args.delta, dep=7))
        assert len(store._manifest()["generations"]) == 1
        assert store.state().count() == n + args.delta

        out["sizes"].append({
            "store_keys": n,
            "full_commit_s": round(full_s, 2),
            "delta_commit_s": round(delta_s, 2),
            "delta_files_written": written,
            "preexisting_files_untouched": untouched,
            "preexisting_files_total": len(before),
            "compaction_commit_s": round(compact_s, 2),
            "files_after_compaction": len(_data_files(root)),
        })
        print(json.dumps(out["sizes"][-1]))
        shutil.rmtree(root, ignore_errors=True)

    with open(os.path.join(REPO, "BENCH", "history_store_run.json"), "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
