"""How a store commits to disk: the one module that renames, swaps or
claims anything on a Hadoop filesystem (lint-enforced).

Every persisted store is plain parquet plus small JSON sidecars, so the
commit protocol the file format lacks lives here, in three primitives:
the sidecar publish (`write_json_sidecar`), the directory swap
(`swap_dir`, under `overwrite_parquet_atomically`) and the partition
claim (`claim_partition`). Everything goes through the Hadoop
``FileSystem`` API (`hadoop_fs`), so the same code runs on local disk
and object stores. Hadoop's ``rename`` reports failure through its
boolean return, not an exception; every rename here is checked. The
windows between renames are inherent to rename-based commits; a table
format with a transaction log (Delta Lake, VLDB 2020) removes them.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path, jvm)`` for ``path`` under the session's
    Hadoop configuration."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(jsc.hadoopConfiguration()), hpath, jvm


def read_json_sidecar(
    spark: SparkSession, path: str, filename: str
) -> dict | None:
    """The JSON sidecar ``path/filename``, or None when absent OR
    corrupt."""
    fs, _, jvm = hadoop_fs(spark, path)
    mpath = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{filename}")
    if not fs.exists(mpath):
        return None
    stream = fs.open(mpath)
    try:
        # JVM-side full read: py4j passes Python bytearrays to
        # InputStream.read(byte[]) BY VALUE, so the classic read-loop
        # never fills the Python buffer. commons-io ships with Spark.
        text = jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        # A truncated/corrupt sidecar (crash mid-write on a filesystem
        # without atomic rename) must not brick the store: treat it as
        # absent — each store's validation then falls back to its
        # data-derived check (bucket layouts sample-recompute the
        # modulus), and the next stamp rewrites a good sidecar.
        return None


def write_json_sidecar(
    spark: SparkSession, path: str, filename: str, payload: dict
) -> None:
    """Stage-then-rename a JSON sidecar: a crash mid-write must never
    leave TRUNCATED JSON at the canonical name. The temp name keeps the
    underscore prefix so Spark's file index ignores it too. The worst
    crash window (between delete and rename, on filesystems without
    overwriting rename) leaves NO sidecar — the absent-sidecar fallback
    path, which is safe."""
    fs, _, jvm = hadoop_fs(spark, path)
    base = path.rstrip("/")
    mpath = jvm.org.apache.hadoop.fs.Path(f"{base}/{filename}")
    tmp = jvm.org.apache.hadoop.fs.Path(f"{base}/_{filename}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(mpath):
        fs.delete(mpath, False)
    if not fs.rename(tmp, mpath):
        raise IOError(f"{path}: failed to publish {filename} sidecar")


def read_parquet_if_exists(spark: SparkSession, path: str):
    """Read a parquet target, returning None when the path does not
    exist OR holds no data files yet (an all-empty PARTITIONED append
    writes only a _SUCCESS marker, no footers, so the very first real
    batch of a bucketed ledger can find the directory present but
    schemaless). Any other failure (corrupt file, permission, FS
    timeout) propagates from ``spark.read`` — treating it as "first
    batch" would silently overwrite and destroy the accumulated target.

    Both "missing" states are probed via the Hadoop FS API BEFORE
    calling ``spark.read``: catching Spark's AnalysisException instead
    still lets Spark log the full PATH_NOT_FOUND /
    UNABLE_TO_INFER_SCHEMA stack trace to stderr on every expected
    first-batch ledger probe. A missing ledger is an ordinary state
    here, not an error — no exception may be raised OR logged for it.
    The recursive listing stops at the first data file, and is work
    ``spark.read``'s own file index would repeat anyway."""
    fs, hpath, _ = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    if fs.getFileStatus(hpath).isDirectory():
        it = fs.listFiles(hpath, True)
        while True:
            if not it.hasNext():
                return None  # markers/sidecars only — no footers yet
            name = it.next().getPath().getName()
            if not name.startswith(("_", ".")):
                break
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


def overwrite_parquet_atomically(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
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
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
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


def claim_partition(spark: SparkSession, path: str) -> bool:
    """Claim partition directory ``path`` for a write. False when
    ``path/_SUCCESS`` exists — the partition already committed and a
    replay must write nothing. Otherwise True, after deleting any torn
    directory a crashed writer left without its marker (a
    ``mode("ignore")`` write would keep the torn partition, and cannot
    report whether it skipped)."""
    fs, hdir, jvm = hadoop_fs(spark, path)
    if fs.exists(hdir):
        if fs.exists(jvm.org.apache.hadoop.fs.Path(hdir, "_SUCCESS")):
            return False
        fs.delete(hdir, True)
    return True
