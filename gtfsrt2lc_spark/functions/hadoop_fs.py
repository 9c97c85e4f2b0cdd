"""Thin wrappers over the JVM Hadoop FileSystem API.

State stores and streaming replay guards must check/commit paths on whatever
filesystem Spark is actually writing to (HDFS, S3A, local, ...) — a driver
``os.path`` check silently answers "no" for any non-local URI, which round 1's
review flagged as an output-erasure hazard on cluster storage. Every helper
here resolves the path through ``FileSystem.get(uri, hadoopConf)`` so behavior
is identical on ``file:/``, ``hdfs:/`` and object stores.

Atomicity notes: ``rename`` is atomic on HDFS and POSIX local filesystems; on
S3A it is copy+delete (best available without a committer service).
``write_text_atomic`` is all-or-nothing ONLY for paths that do not already
exist (tmp + rename to a fresh name); overwriting an existing path requires a
delete first, which opens a crash window where the path is missing. Stores
therefore commit by writing NEW names rather than flipping a single mutable
pointer file: ``commit_generations`` is the one commit protocol, shared by
``HistoryStore`` and the triple store. A store is a log of generation dirs
plus ``manifest-<seq>.json`` files; readers resolve the highest sequence
with ``read_live_manifest`` and read only the generations it names, so a
crashed write's generation is never read and the next commit vacuums it.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf), p


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete; True if something was removed."""
    fs, p = _fs_path(spark, path)
    return bool(fs.delete(p, True))


def read_text(spark: SparkSession, path: str) -> str:
    """Read a small control file (pointer / manifest) fully into a string."""
    fs, p = _fs_path(spark, path)
    jvm = spark._jvm
    stream = fs.open(p)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        while True:
            line = reader.readLine()
            if line is None:
                break
            lines.append(line)
        return "\n".join(lines)
    finally:
        stream.close()


def write_text_atomic(spark: SparkSession, path: str, content: str) -> None:
    """Write a small control file via tmp-sibling + rename (atomic on
    HDFS/local; copy+delete on S3A). All-or-nothing only when ``path`` does
    not already exist — see the module docstring's atomicity notes."""
    fs, p = _fs_path(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(content.encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(f"atomic rename failed: {tmp} -> {p}")


def list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Names (not full paths) of immediate subdirectories; [] if missing."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory()
    )


def list_files(spark: SparkSession, path: str, prefix: str = "") -> list[str]:
    """Names of immediate plain files, optionally prefix-filtered; [] if
    the directory is missing."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isFile() and st.getPath().getName().startswith(prefix)
    )


def manifest_name(seq: int) -> str:
    return f"manifest-{seq:06d}.json"


def read_live_manifest(spark: SparkSession, path: str) -> tuple[int, dict] | None:
    """The live manifest of a store at ``path``: the ``manifest-<seq>.json``
    directly under it with the highest sequence, as ``(seq, parsed JSON)``,
    or None when there is none.

    The maximum is taken over the PARSED sequence: ``%06d`` stops
    zero-padding past 999999, so a lexicographic max would pick
    manifest-999999 over manifest-1000000. A crashed write's partial
    ``.tmp`` is skipped; a live manifest that is not valid JSON raises."""
    names = {
        int(n[len("manifest-"):-len(".json")]): n
        for n in list_files(spark, path, prefix="manifest-")
        if n.endswith(".json")
    }
    if not names:
        return None
    seq = max(names)
    return seq, json.loads(read_text(spark, f"{path}/{names[seq]}"))


def commit_generations(
    spark: SparkSession, path: str, data: str, seq: int, body: dict
) -> None:
    """Commit a generation-log store: write ``{"seq": seq, **body}`` as
    ``manifest-<seq>.json`` under ``path`` (the commit point), then vacuum
    every dir under ``data`` that ``body["generations"]`` does not name and
    every other manifest. Safe while no plan built before the commit runs
    after it: readers resolve the highest sequence and read only its
    generations."""
    live = manifest_name(seq)
    write_text_atomic(spark, f"{path}/{live}", json.dumps({"seq": seq, **body}))
    for gen in list_dirs(spark, data):
        if gen not in body["generations"]:
            delete(spark, f"{data}/{gen}")
    for name in list_files(spark, path, prefix="manifest-"):
        if name != live:
            delete(spark, f"{path}/{name}")
