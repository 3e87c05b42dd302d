"""Persisted counting-Bloom store — the deletable membership screen's
on-disk form, completing the takedown family: the exact ledgers
retract by rewriting touched buckets (q175), the counting screen
retracts by appending a NEGATIVE delta here.

Layout: ``path/delta_id=<name>/`` parquet partitions of ``(p, cnt)``
position-count rows (`operators/bloom.py::counting_build`'s shape),
plus a ``_counting_meta.json`` sidecar carrying the filter geometry
``{n_words, k}`` and the delta ids already ABSORBED by compaction.
The live table is the per-position SUM across every delta — inserts
are positive deltas, takedowns negative ones, and summation is
commutative, so readers never care about arrival order.

Crash/replay contract (foreachBatch is at-least-once), deliberately
DIFFERENT from the bit screen's (`bloom_ingest`): a bit-OR merge is
idempotent, a count merge is NOT — replaying an applied batch would
double-count every key. Idempotence here comes from the LAYOUT
instead of the algebra:

- each delta writes into its own ``delta_id=`` partition behind an
  explicit completed-directory check (_SUCCESS present → replay
  writes nothing, first-writer-wins; directory WITHOUT _SUCCESS → a
  crashed partial write, deleted and rewritten);
- compaction sums every delta into a single ``delta_id=base``
  partition (staged-write-then-swap) and records the absorbed ids in
  the sidecar — a replay of a PRE-compaction batch would otherwise
  find its directory gone and re-append; the absorbed list is the
  tombstone that refuses it. The list grows by one entry per absorbed
  delta (bytes per batch — a production store on an ACID table format
  gets this from transaction ids instead);
- single WRITER per store (the one stream / the one takedown job) —
  the same contract every ledger in this engine ships; concurrent
  writers need the ACID-format swap-in documented in storage.

Probes derive the ``(w, bits)`` word table from the summed counts and
run the standard broadcast probe — O(sum of delta sizes) read +
O(m) groupBy, never anything scaling with corpus size.

Time travel (round 10 continuation): the sidecar also carries a
``log`` — the delta ids in APPLIED order (the single-writer contract
makes that order well-defined) — so ``read_counts_as_of(version)``
reconstructs any historical state as the sum of a log PREFIX, exactly
the Delta-Lake/Iceberg version-read idea expressed over plain parquet
partitions. Compaction is also the VACUUM: once deltas are absorbed
into ``delta_id=base``, every version that cuts the log strictly
before the absorption horizon is physically unreconstructable and the
read raises instead of silently returning the compacted state — the
same retention trade a `VACUUM`'d Delta table makes. Versions at or
past the horizon read as ``base`` (the absorbed prefix) plus the
surviving per-delta partitions, selected by a partition-column filter
so the scan prunes to exactly the needed files. This store is the one
whose layout retains per-batch history (the bit screen overwrites a
single word table in place; the exact ledgers rewrite touched buckets),
which is why time travel lives here.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..concurrency import overlap
from ..functions.localframe import local_rows_df

from ..operators.bloom import (
    bloom_probe_keys,
    counting_build,
    counting_to_words,
)
from ..storage import (
    claim_partition,
    overwrite_parquet_atomically,
    read_json_sidecar,
    read_parquet_if_exists,
    write_json_sidecar,
)

__all__ = [
    "CountingLayoutError",
    "store_geometry",
    "write_counting_delta",
    "append_counting_deltas",
    "retract_counting",
    "read_counts",
    "read_counts_as_of",
    "store_versions",
    "probe_counting",
    "screen_keys_batch",
    "compact_counting",
    "run_counting_screen_stream",
]

COUNTING_META = "_counting_meta.json"
DEFAULT_WORDS = 1 << 16
DEFAULT_K = 5
BASE_DELTA = "base"


class CountingLayoutError(ValueError):
    """Geometry disagreement with the persisted store, a sidecar-less
    existing store (unrecoverable geometry), or a delta id colliding
    with the reserved compaction partition."""


def _meta(spark: SparkSession, path: str) -> dict | None:
    return read_json_sidecar(spark, path, COUNTING_META)


def _write_meta(
    spark: SparkSession, path: str, n_words: int, k: int,
    absorbed: list[str], log: list[str],
) -> None:
    # ``absorbed`` is an unordered tombstone SET (sorted for stable
    # bytes); ``log`` is the applied ORDER and must never be sorted.
    write_json_sidecar(
        spark, path, COUNTING_META,
        {"n_words": int(n_words), "k": int(k),
         "absorbed": sorted(absorbed), "log": list(log)},
    )


def _delta_dir(path: str, delta_id: str) -> str:
    return f"{path.rstrip('/')}/delta_id={delta_id}"


def store_geometry(
    spark: SparkSession, path: str, n_words: int, k: int
) -> tuple[int, int, list[str], list[str]]:
    """(n_words, k, absorbed_ids, applied_log) — sidecar-validated like
    the bit screen's `store_params`: an existing store without a
    sidecar is refused outright (a word-position table carries nothing
    to sample-validate a geometry guess against). Stores written before
    the version log existed return ``log == []`` — current-state reads
    work unchanged; only `read_counts_as_of` needs the log and says so."""
    meta = _meta(spark, path)
    if meta is not None:
        if int(meta["n_words"]) != n_words or int(meta["k"]) != k:
            raise CountingLayoutError(
                f"{path}: counting store was built with n_words="
                f"{meta['n_words']}, k={meta['k']}; caller passed "
                f"({n_words}, {k}) — all writers and readers of one "
                "filter must share its geometry"
            )
        return (
            int(meta["n_words"]), int(meta["k"]),
            list(meta.get("absorbed", [])), list(meta.get("log", [])),
        )
    if read_parquet_if_exists(spark, path) is not None:
        raise CountingLayoutError(
            f"{path}: existing counting store has no {COUNTING_META} "
            "sidecar — its geometry is unrecoverable from the data; "
            "rebuild the store (or restore the sidecar)"
        )
    return n_words, k, [], []


def write_counting_delta(
    keys: DataFrame,
    key: str,
    path: str,
    delta_id: str,
    n_words: int = DEFAULT_WORDS,
    k: int = DEFAULT_K,
    sign: int = 1,
) -> bool:
    """Append one delta partition (`append_counting_deltas` with one
    item); returns False (and writes nothing) when the delta was
    already applied — its ``delta_id=`` directory is committed or
    compaction absorbed it (sidecar tombstone). ``sign=-1`` is the
    takedown path. Single-writer contract (module docstring)."""
    return append_counting_deltas(
        keys.sparkSession, [(delta_id, keys, sign)], key, path, n_words, k
    )[delta_id]


def append_counting_deltas(
    spark: SparkSession,
    items: list[tuple[str, DataFrame, int]],
    key: str,
    path: str,
    n_words: int = DEFAULT_WORDS,
    k: int = DEFAULT_K,
) -> dict[str, bool]:
    """Append SEVERAL delta partitions in one store transaction:
    ``items`` is an ORDERED list of ``(delta_id, keys_df, sign)``. The
    per-delta parquet writes target independent ``delta_id=``
    directories, so they overlap on driver threads (`overlap`, the
    guide's overlap-independent-jobs recipe — each delta-build job's
    straggler tail back-fills with the next delta's tasks instead of
    idling the local cluster); the sidecar is then written ONCE,
    appending the ids to the log in the CALLER's list order, so the
    applied log — and therefore every `read_counts_as_of` version cut
    — is exactly what the equivalent sequence of
    `write_counting_delta` calls would have produced. The live table
    never depends on arrival order at all (summation is commutative;
    module docstring).

    Contracts preserved, not weakened:

    - single WRITER per store: the one caller coordinates; the
      threads are its internal fan-out, and the sidecar
      read-modify-write happens exactly once, after they all finish;
    - per-delta idempotence: absorbed ids (compaction tombstone) and
      committed directories (`storage.claim_partition`) are refused,
      torn directories are deleted and rewritten, and a
      committed-but-unlogged directory (crash between the parquet
      writes and the sidecar write) heals the log on replay;
    - all-or-nothing is NOT promised (it never was across separate
      calls either): a crash mid-batch leaves some directories complete
      and unlogged — a replay of the same ordered batch heals them in
      list order and writes the rest.

    Returns ``{delta_id: wrote_anything}`` (False = refused replay).
    """
    ids = [d for d, _df, _s in items]
    if len(set(ids)) != len(ids):
        raise CountingLayoutError(
            f"duplicate delta ids in one batch append: {ids}"
        )
    if BASE_DELTA in ids:
        raise CountingLayoutError(
            f"delta_id '{BASE_DELTA}' is reserved for compaction output"
        )
    n_words, k, absorbed, log = store_geometry(spark, path, n_words, k)
    applied: dict[str, bool] = {}
    loggable: list[str] = []  # ids to append, in the CALLER's order
    pending: list[tuple[str, DataFrame, int]] = []
    for delta_id, keys, sign in items:
        if delta_id in absorbed:
            applied[delta_id] = False
            continue
        loggable.append(delta_id)
        if claim_partition(spark, _delta_dir(path, delta_id)):
            pending.append((delta_id, keys, sign))
        else:
            # completed directory: refuse the rewrite, heal the log
            # below at this id's LIST position — exactly where a
            # sequential replay would have healed it
            applied[delta_id] = False

    def _write_one(item: tuple[str, DataFrame, int]) -> None:
        delta_id, keys, sign = item
        delta = counting_build(keys, key, n_words, k)
        if sign < 0:
            delta = delta.select("p", (-F.col("cnt")).alias("cnt"))
        # coalesce(1): one file per delta — the table is bounded by m
        # rows, never worth parallel output.
        delta.coalesce(1).write.mode("errorifexists").parquet(
            _delta_dir(path, delta_id)
        )

    overlap(spark, *[partial(_write_one, it) for it in pending])
    for delta_id, _keys, _sign in pending:
        applied[delta_id] = True
    new_log = log + [d for d in loggable if d not in log]
    if new_log != log:
        _write_meta(spark, path, n_words, k, absorbed, new_log)
    return applied


def retract_counting(
    keys: DataFrame,
    key: str,
    path: str,
    takedown_id: str,
    n_words: int = DEFAULT_WORDS,
    k: int = DEFAULT_K,
) -> bool:
    """Takedown = a negative delta. ``takedown_id`` must be unique per
    takedown event (it is the idempotence handle: replaying the same
    takedown job re-uses the id and writes nothing)."""
    return write_counting_delta(
        keys, key, path, f"takedown-{takedown_id}", n_words, k, sign=-1
    )


def read_counts(spark: SparkSession, path: str) -> DataFrame:
    """Live position-count table: per-position sum across all deltas,
    zero rows dropped (negative rows kept as over-retraction
    evidence)."""
    deltas = read_parquet_if_exists(spark, path)
    if deltas is None:
        return local_rows_df(spark, [], "p long, cnt long")
    return (
        deltas.groupBy("p")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") != 0)
    )


def store_versions(spark: SparkSession, path: str) -> dict:
    """Version-surface introspection: ``log`` (applied order),
    ``absorbed`` (compaction tombstones), ``latest`` (= len(log)), and
    ``min_readable`` — the smallest version whose log prefix covers
    every absorbed delta (1 when nothing was compacted). Versions below
    ``min_readable`` were vacuumed by compaction and cannot be read.
    ``min_readable`` is ``None`` when the absorbed set is NOT covered
    by the log (a legacy store compacted before the version log
    existed, then appended to): no log prefix reconstructs any
    historical state, so no version is readable — only the current
    state via `read_counts` (round-11 ADVICE: reporting 1 here
    advertised an 'earliest readable version' that itself raised)."""
    meta = _meta(spark, path)
    if meta is None:
        raise CountingLayoutError(
            f"{path}: no {COUNTING_META} sidecar — not a counting store"
        )
    log = list(meta.get("log", []))
    absorbed = set(meta.get("absorbed", []))
    if not absorbed <= set(log):
        min_readable = None
    else:
        min_readable = 1
        for i, d in enumerate(log):
            if d in absorbed:
                min_readable = i + 1
    return {
        "log": log,
        "absorbed": sorted(absorbed),
        "latest": len(log),
        "min_readable": min_readable,
    }


def read_counts_as_of(
    spark: SparkSession, path: str, version: int
) -> DataFrame:
    """Historical position-count table as of ``version`` — the state
    after the first ``version`` entries of the applied log (1-based;
    ``version == len(log)`` is the current state). Reconstruction is a
    partition-column filter over the store (``delta_id IN`` the prefix,
    plus ``base`` when compaction absorbed part of it) + the same sum
    as `read_counts`, so the scan prunes to exactly the needed delta
    files. Raises for versions compaction has vacuumed (the absorbed
    set is not covered by the requested prefix — the physical deltas
    no longer exist) and for pre-version-log legacy stores."""
    meta = _meta(spark, path)
    if meta is None:
        raise CountingLayoutError(
            f"{path}: no {COUNTING_META} sidecar — not a counting store"
        )
    log = list(meta.get("log", []))
    if not log:
        raise CountingLayoutError(
            f"{path}: store has no version log (written before time "
            "travel existed, or the sidecar was restored without its "
            "log) — only the current state is readable; use read_counts"
        )
    if not 1 <= int(version) <= len(log):
        raise CountingLayoutError(
            f"{path}: version {version} out of range — the log holds "
            f"versions 1..{len(log)}"
        )
    prefix = log[: int(version)]
    absorbed = set(meta.get("absorbed", []))
    if not absorbed <= set(prefix):
        mr = store_versions(spark, path)["min_readable"]
        hint = (
            f"the earliest readable version is {mr}"
            if mr is not None
            else "NO historical version is readable — compaction "
            "predates the version log (legacy store); only the "
            "current state is reconstructible, via read_counts"
        )
        raise CountingLayoutError(
            f"{path}: version {version} predates the compaction "
            f"horizon — compaction absorbed {sorted(absorbed)} into "
            f"'{BASE_DELTA}' and vacuumed their per-delta partitions; "
            + hint
        )
    wanted = [d for d in prefix if d not in absorbed]
    if absorbed:
        wanted.append(BASE_DELTA)
    deltas = read_parquet_if_exists(spark, path)
    if deltas is None:
        return local_rows_df(spark, [], "p long, cnt long")
    return (
        deltas.filter(F.col("delta_id").isin(wanted))
        .groupBy("p")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") != 0)
    )


def probe_counting(
    keys: DataFrame,
    key: str,
    path: str,
    n_words: int = DEFAULT_WORDS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """(key, maybe_member) against the store's CURRENT state — summed
    counts collapsed to a word table, broadcast into the standard
    probe join."""
    spark = keys.sparkSession
    n_words, k, _, _ = store_geometry(spark, path, n_words, k)
    words = counting_to_words(read_counts(spark, path))
    return bloom_probe_keys(keys, key, words, n_words, k)


def screen_keys_batch(
    keys: DataFrame,
    key: str,
    path: str,
    results_path: str,
    batch_id: int,
    n_words: int = DEFAULT_WORDS,
    k: int = DEFAULT_K,
) -> None:
    """One micro-batch through the counting screen: totals vs the
    pre-batch state land FIRST (``mode("ignore")`` per batch — a
    replay after the delta landed recomputes different totals, which
    first-writer-wins discards; same crash-window argument as
    `bloom_ingest.screen_keys_batch`), then the batch's occurrences
    append as delta ``batch-<id>``. Unlike the bit screen, ALL
    occurrences insert — not just definitely-new keys — because the
    counting store's whole point is per-owner multiplicity: a later
    takedown of one owner must not unset a key another owner still
    holds."""
    spark = keys.sparkSession
    n_words, k, _, _ = store_geometry(spark, path, n_words, k)
    flags = probe_counting(keys, key, path, n_words, k)
    totals = flags.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.coalesce(
            F.sum((~F.col("maybe_member")).cast("long")), F.lit(0)
        ).cast("long").alias("n_definitely_new"),
        F.coalesce(
            F.sum(F.col("maybe_member").cast("long")), F.lit(0)
        ).cast("long").alias("n_maybe"),
    ).select(F.lit(batch_id).cast("long").alias("batch_id"), "*")
    totals.coalesce(1).write.mode("ignore").parquet(
        f"{results_path}/batch_id={batch_id}"
    )
    write_counting_delta(
        keys, key, path, f"batch-{batch_id}", n_words, k
    )


def compact_counting(
    spark: SparkSession,
    path: str,
    n_words: int = DEFAULT_WORDS,
    k: int = DEFAULT_K,
) -> None:
    """Sum every delta into a single ``delta_id=base`` partition
    (staged write-then-swap) and tombstone the absorbed ids in the
    sidecar — the small-file hygiene pass, run between stream runs.
    Post-compaction the live table is unchanged by construction
    (summation is associative); a replay of an absorbed batch is
    refused by the tombstone instead of the vanished directory.

    Compaction is also the VACUUM (module docstring): absorbed deltas'
    partitions are physically gone afterwards, so every version before
    the absorption horizon becomes unreadable by `read_counts_as_of` —
    run it on the retention cadence you can afford to lose history at.

    Crash window: the swap replaces the directory (sidecar included)
    before the sidecar rewrite below — a crash in between leaves a
    sidecar-less store that `store_geometry` LOUDLY refuses (restore
    the sidecar with the known geometry + the absorbed list from the
    pre-crash copy; refusing beats silently guessing a geometry that
    mis-routes every key). The other stores share this window; ACID
    table formats remove it."""
    n_words, k, absorbed, log = store_geometry(spark, path, n_words, k)
    deltas = read_parquet_if_exists(spark, path)
    if deltas is None:
        return
    seen = [
        r["delta_id"]
        for r in deltas.select("delta_id").distinct().collect()
    ]
    base = (
        deltas.groupBy("p")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") != 0)
        .select("p", "cnt", F.lit(BASE_DELTA).alias("delta_id"))
        .coalesce(1)
    )
    overwrite_parquet_atomically(base, path, partition_by=["delta_id"])
    # the swap replaced the whole directory, sidecar included — rewrite
    # it with the union of previously-absorbed and just-absorbed ids
    newly = [d for d in seen if d != BASE_DELTA]
    _write_meta(
        spark, path, n_words, k,
        sorted(set(absorbed) | set(newly)), log,
    )


def run_counting_screen_stream(
    spark: SparkSession,
    source_dir: str,
    path: str,
    results_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    n_words: int = DEFAULT_WORDS,
    k: int = DEFAULT_K,
    compact_every: int | None = None,
    compact_max_deltas: int | None = None,
) -> None:
    """availableNow backlog drain through the counting screen, keyed
    by exact-text md5 (the keep-latest family's key). ``compact_every``
    folds deltas into the base partition every N batches — the
    in-stream counterpart of the ledger stores' cadence compaction;
    ``compact_max_deltas`` is the STATE-BASED alternative (compact
    only when live delta partitions exceed the bound — one metadata
    listing per batch, see `operators/compaction_policy`). Both also
    vacuum time-travel history up to the new horizon."""
    from ..operators.compaction_policy import maybe_compact_counting
    from .corpus_ingest import read_docs_stream

    def _batch(b: DataFrame, bid: int) -> None:
        screen_keys_batch(
            b.select(F.md5("text").alias("text_md5")),
            "text_md5", path, results_path,
            batch_id=bid, n_words=n_words, k=k,
        )
        if compact_every and (bid + 1) % compact_every == 0:
            compact_counting(spark, path, n_words, k)
        if compact_max_deltas is not None:
            maybe_compact_counting(
                spark, path, n_words, k, compact_max_deltas
            )

    stream = read_docs_stream(spark, source_dir, max_files_per_trigger)
    (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
