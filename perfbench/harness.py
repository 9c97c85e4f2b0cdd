"""Measurement plumbing: Spark session lifecycle, percentile and ratio math,
resident-memory sampling, spans, and Spark event-log counters."""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

CORES = 4
DRIVER_MEMORY = "1g"


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest candidate percentile that has at least ten
    samples strictly beyond its rank; None when even the median has fewer."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n - max(1, math.ceil(p / 100.0 * n)) >= 10:
            return p, percentile(values, p)
    return None


def precision_recall(emitted: set, golden: set) -> tuple[float, float]:
    """Set precision and recall. An empty side has nothing wrong in it: an
    empty emitted set has precision 1, an empty golden set recall 1."""
    hit = len(emitted & golden)
    precision = hit / len(emitted) if emitted else 1.0
    recall = hit / len(golden) if golden else 1.0
    return precision, recall


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def start_session(work: str, event_dir: str | None = None):
    """One local[4] session whose scratch stays under ``work``. Event
    logging is on only when ``event_dir`` is given (the traced run)."""
    from gtfsrt2lc_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        driver_memory=DRIVER_MEMORY,
        extra_conf=conf,
    )


def stop_session(spark=None, timeout: float = 60.0) -> None:
    """Stop Spark (``spark``, else the active session) and wait until the
    JVM and the Python workers it forked have exited: closing the gateway's
    stdin is the JVM's signal to exit. Stopping twice is harmless."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.poll() is not None:
        return
    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)


def noop(df) -> None:
    """Force every row of ``df`` without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# resident memory
# ---------------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat. Steal is
    time a virtual CPU was runnable but the hypervisor ran someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class Window:
    """A timed window: its wall-clock bounds (epoch seconds) and the share
    of the machine's CPU time stolen by the hypervisor during it."""

    def __init__(self) -> None:
        self._ticks = cpu_ticks()
        self.start = time.time()
        self.end = self.start
        self.steal_frac = 0.0

    def close(self) -> None:
        self.end = time.time()
        steal, total = cpu_ticks()
        self.steal_frac = (steal - self._ticks[0]) / max(1, total - self._ticks[1])


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed VmRSS over this process and all its descendants
    (the JVM and its Python workers), sampled every ``interval`` seconds.

    A process counts only once it has been seen in two consecutive samples:
    between fork and exec a child of the JVM reports the JVM's whole RSS,
    and those short-lived helpers would otherwise add a second JVM-sized
    term whenever a sample lands inside that window."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval)

    def sample(self, root: int) -> None:
        tree = _tree(root)
        total = sum(_rss_kb(p) for p in tree if p == root or p in self._seen)
        self._seen = set(tree)
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans around public engine calls: name, wall-clock start
    and end (epoch seconds), and the enclosing span. Disabled tracers
    record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


@contextmanager
def stopwatch():
    """Yields a one-element list that holds the elapsed seconds on exit."""
    out = [0.0]
    t0 = time.perf_counter()
    try:
        yield out
    finally:
        out[0] = time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def eventlog_counters(event_dir: str, t0: float, t1: float) -> dict[str, float]:
    """Engine counters for the jobs submitted inside [t0, t1] (epoch
    seconds), read from the single uncompressed event log in ``event_dir``:
    jobs, stages, tasks, shuffle bytes written, shuffle bytes as a share of
    bytes scanned, spill bytes, and the heaviest stage's task skew (max over
    median task run time)."""
    logs = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if not logs:
        raise RuntimeError(f"no Spark event log in {event_dir}")
    lo, hi = t0 * 1000.0, t1 * 1000.0
    jobs = 0
    stage_ids: set[int] = set()
    task_ms: dict[int, list[int]] = {}
    shuffle = scanned = spill = 0
    with open(max(logs, key=os.path.getmtime)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if lo <= ev.get("Submission Time", 0) <= hi:
                    jobs += 1
                    stage_ids.update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_ids:
                m = ev.get("Task Metrics") or {}
                task_ms.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
                shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                scanned += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    heaviest = max(task_ms.values(), key=sum, default=[])
    mid = statistics.median(heaviest) if heaviest else 0
    return {
        "spark.jobs": jobs,
        # stages that ran tasks; skipped (already computed) stages excluded
        "spark.stages": len(task_ms),
        "spark.tasks": sum(len(v) for v in task_ms.values()),
        "spark.shuffle_write_bytes": shuffle,
        "spark.shuffle_frac_of_scan": shuffle / scanned if scanned else 0.0,
        "spark.spill_bytes": spill,
        "spark.task_skew": max(heaviest) / mid if mid else 1.0,
    }
