"""How a store commits to disk: the one module that renames anything
or holds the Hadoop ``FileSystem`` handle (lint-enforced).

Every persisted store is plain parquet plus one create-only log,
``path/_log/<N>.json``. Entry ``N`` holds the store's WHOLE state: its
geometry (bucket count, filter size) and whatever says which of its
directories are live. Writers follow the data-then-log order of a
table format's transaction log (Delta Lake, VLDB 2020):

- a store commits its header (entry 0) when it is created, before any
  data (`open_store`);
- new data lands in a directory the latest entry does not list yet,
  and becomes live when the next entry (`commit`) lists it (an append
  to a bucketed store adds files to its listed data directory instead,
  and its caller's anti-join deduplicates a replay);
- directories the latest entry no longer lists are deleted after that
  entry is committed (`vacuum`); a whole-store rewrite (`rewrite`)
  lands in a new directory and retires the old one the same way.

A crash therefore leaves at worst an unlisted directory, which no
read sees and a replay overwrites or `vacuum` removes. An entry is
committed by staging it and renaming it to a NEW ``N``; an existing
entry is never overwritten, and a populated store without a log is
refused (`LayoutError`) rather than guessed at. The log is read
through the Hadoop ``FileSystem`` API (`hadoop_fs`), so the same code
runs on local disk and object stores; Hadoop reports a failed rename
through its boolean return, and every rename here is checked.
"""

from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

LOG_DIR = "_log"
_ENTRY = re.compile(r"^(\d+)\.json$")


class LayoutError(ValueError):
    """A caller disagrees with a store's persisted layout (geometry,
    reserved ids, unreadable versions), or a populated store has no
    log to describe itself — proceeding would silently mis-read it."""


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path, jvm)`` for ``path`` under the session's
    Hadoop configuration."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(jsc.hadoopConfiguration()), hpath, jvm


def _has_data(fs, hpath) -> bool:
    """Whether ``hpath`` is, or holds, a data file: one with no ``_*``
    or ``.*`` name on its path below ``hpath`` (markers, checksums and
    the log are not data). The walk stops at the first one."""
    if not fs.exists(hpath):
        return False

    def holds(status) -> bool:
        return not status.isDirectory() or any(
            holds(st) for st in fs.listStatus(status.getPath())
            if not st.getPath().getName().startswith(("_", "."))
        )

    return holds(fs.getFileStatus(hpath))


def read_state(spark: SparkSession, path: str) -> tuple[int, dict] | None:
    """``(N, state)`` of the store's newest log entry; None for a store
    that does not exist yet (no log, no data). A populated store without
    a log raises `LayoutError`: nothing says which of its directories
    are live or what geometry wrote them."""
    fs, root, jvm = hadoop_fs(spark, path)
    log = jvm.org.apache.hadoop.fs.Path(root, LOG_DIR)
    versions = [
        int(m.group(1))
        for st in (fs.listStatus(log) if fs.exists(log) else [])
        if (m := _ENTRY.match(st.getPath().getName()))
    ]
    if not versions:
        if _has_data(fs, root):
            raise LayoutError(
                f"{path}: populated store has no {LOG_DIR} — its geometry "
                "and live directories are unrecoverable; rebuild it"
            )
        return None
    n = max(versions)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(log, f"{n}.json"))
    try:
        # JVM-side full read: py4j passes Python bytearrays to
        # InputStream.read(byte[]) BY VALUE, so the classic read-loop
        # never fills the Python buffer. commons-io ships with Spark.
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return n, json.loads(text)


def commit(spark: SparkSession, path: str, n: int, state: dict) -> None:
    """Commit ``state`` as log entry ``n``: stage it under a temporary
    name, then rename it to ``_log/<n>.json``. The rename refuses an
    existing target, so an entry is never overwritten and a second
    writer of the same ``n`` fails instead of clobbering it."""
    fs, root, jvm = hadoop_fs(spark, path)
    log = jvm.org.apache.hadoop.fs.Path(root, LOG_DIR)
    entry = jvm.org.apache.hadoop.fs.Path(log, f"{n}.json")
    tmp = jvm.org.apache.hadoop.fs.Path(log, f"_{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(json.dumps(state).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(entry) or not fs.rename(tmp, entry):
        fs.delete(tmp, False)
        raise LayoutError(f"{path}: could not commit log entry {n}")


def check_geometry(path: str, state: dict, **geometry) -> None:
    """Raise `LayoutError` unless the store was laid out with
    ``geometry`` — a probe or append under another bucket count or
    filter size silently mis-routes every key."""
    for key, want in geometry.items():
        if state.get(key) != want:
            raise LayoutError(
                f"{path}: store layout has {key}={state.get(key)!r}, caller "
                f"passed {want!r} — all writers and readers of one store "
                "must share its geometry"
            )


def open_store(
    spark: SparkSession, path: str, geometry: dict, empty: dict
) -> tuple[int, dict]:
    """``(N, state)`` for a writer: an existing store's newest entry,
    checked against ``geometry``; a new store first commits its header
    ``{**geometry, **empty}`` as entry 0."""
    found = read_state(spark, path)
    if found is None:
        state = {**geometry, **empty}
        commit(spark, path, 0, state)
        return 0, state
    check_geometry(path, found[1], **geometry)
    return found


def rewrite(
    spark: SparkSession, path: str, n: int, state: dict, name: str, write
) -> None:
    """A whole-store rewrite: ``write(dir)`` lands the new data in the
    store's new directory ``name``, entry ``n + 1`` commits ``state``
    (which names it), then every other directory is deleted."""
    write(f"{path.rstrip('/')}/{name}")
    commit(spark, path, n + 1, state)
    vacuum(spark, path, {name})


def vacuum(spark: SparkSession, path: str, live: set[str]) -> list[str]:
    """Delete every top-level directory of the store that ``live`` does
    not name (the log and ``_``/``.`` names excepted): the directories
    an entry just retired, and any a crashed writer left unlisted. Call
    only AFTER committing the entry that retires them. Returns the
    deleted names."""
    fs, root, _ = hadoop_fs(spark, path)
    dropped = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith(("_", ".")) and name not in live:
            fs.delete(st.getPath(), True)
            dropped.append(name)
    return dropped


def read_parquet_if_exists(spark: SparkSession, path: str):
    """Read a parquet target, returning None when the path does not
    exist OR holds no data files yet (an all-empty PARTITIONED append
    writes only a _SUCCESS marker, no footers). Any other failure
    (corrupt file, permission, FS timeout) propagates from
    ``spark.read``.

    Both "missing" states are probed via the Hadoop FS API BEFORE
    calling ``spark.read``: catching Spark's AnalysisException instead
    still lets Spark log the full PATH_NOT_FOUND /
    UNABLE_TO_INFER_SCHEMA stack trace to stderr on every expected
    first-batch ledger probe."""
    fs, hpath, _ = hadoop_fs(spark, path)
    if not _has_data(fs, hpath):
        return None
    return spark.read.parquet(path)


def swap_dir(fs, target, staged, trash) -> None:
    """Replace directory ``target`` by ``staged``: park ``target`` (if
    it exists) at ``trash``, publish ``staged`` (if it exists — a
    missing staged dir makes the swap a delete), then drop the trash.
    A failed publish restores the parked target before raising; if the
    restore fails too, the error names ``trash``, where the data still
    is. ``trash`` must lie OUTSIDE the store: Spark's file index would
    read a parked ``col=value`` directory as a conflicting partition
    column. ``fs`` is a Hadoop ``FileSystem`` (or any object with its
    ``exists``/``rename``/``delete``)."""
    had_target = fs.exists(target)
    if had_target and not fs.rename(target, trash):
        raise IOError(
            f"could not park {target} -> {trash}; target left untouched"
        )
    if fs.exists(staged) and not fs.rename(staged, target):
        if had_target and not fs.rename(trash, target):
            raise IOError(
                f"could not publish {staged} -> {target} AND could not "
                f"restore it — previous data preserved at {trash}"
            )
        raise IOError(
            f"could not publish {staged} -> {target}"
            + ("; previous target restored" if had_target else "")
        )
    if had_target:
        fs.delete(trash, True)


def swap_partitions(
    spark: SparkSession, path: str, staged: str, names: list[str]
) -> None:
    """`swap_dir` each partition directory ``names[i]`` of ``path``
    with its twin under ``staged`` (a missing twin deletes it); the
    partitions not named are left byte-identical. Old partitions park
    in a trash directory next to ``staged``, so ``staged`` must lie
    OUTSIDE the store. ``staged`` is removed afterwards; the trash is
    kept only while it holds a partition a failed restore left there."""
    fs, _, jvm = hadoop_fs(spark, path)
    HPath = jvm.org.apache.hadoop.fs.Path
    trash = HPath(f"{staged}__trash_{uuid.uuid4().hex[:8]}")
    fs.mkdirs(trash)
    try:
        for name in names:
            swap_dir(
                fs, HPath(f"{path.rstrip('/')}/{name}"),
                HPath(f"{staged}/{name}"), HPath(trash, name),
            )
    finally:
        fs.delete(HPath(staged), True)
        if len(fs.listStatus(trash)) == 0:
            fs.delete(trash, True)


def overwrite_parquet_atomically(df: DataFrame, path: str) -> None:
    """Write-to-temp-then-swap: a plain overwrite of a path the plan is
    lazily reading from deletes the source mid-computation if any cached
    partition is evicted and recomputed. The temp write fully
    materializes first, then `swap_dir` moves it in — the accumulated
    data survives a failed swap (restored from trash) and a crash
    between renames (trash still on disk for manual recovery). The
    staged copy never outlives the call."""
    spark = df.sparkSession
    token = uuid.uuid4().hex[:8]
    base = path.rstrip("/")
    tmp = f"{base}__tmp_{token}"
    df.write.mode("overwrite").parquet(tmp)
    fs, hpath, jvm = hadoop_fs(spark, path)
    htmp = jvm.org.apache.hadoop.fs.Path(tmp)
    try:
        swap_dir(
            fs, hpath, htmp, jvm.org.apache.hadoop.fs.Path(
                f"{base}__trash_{token}"
            ),
        )
    finally:
        if fs.exists(htmp):
            fs.delete(htmp, True)
