"""Persisted counting-Bloom store — the deletable membership screen's
on-disk form, completing the takedown family: the exact ledgers
retract by rewriting touched buckets (q175), the counting screen
retracts by appending a NEGATIVE delta here.

Layout: ``path/delta_id=<name>/`` parquet partitions of ``(p, cnt)``
position-count rows (`operators/bloom.py::counting_build`'s shape),
plus the store log (`storage`), whose every entry carries the filter
geometry ``{n_words, k}``, the APPLIED ``log`` of delta ids, the ids
compaction ``absorbed`` and the ``base`` partition that holds them.
The live table is the per-position SUM across the live deltas —
inserts are positive deltas, takedowns negative ones, and summation is
commutative, so readers never care about arrival order.

Crash/replay contract (foreachBatch is at-least-once), deliberately
DIFFERENT from the bit screen's (`bloom_ingest`): a bit-OR merge is
idempotent, a count merge is NOT — replaying an applied batch would
double-count every key. Idempotence here comes from the LOG instead
of the algebra:

- each delta writes into its own ``delta_id=`` partition and is live
  only once a log entry lists it; a replay of a logged (or absorbed)
  id writes nothing, and a directory a crash left unlisted is
  invisible to every read and overwritten by the replay;
- compaction sums the live deltas into a new ``delta_id=base-<N>``
  partition, logs it with the absorbed ids as entry ``N``, then
  deletes the absorbed partitions — the absorbed list is the tombstone
  that refuses a replay of a PRE-compaction batch. It grows by one
  entry per absorbed delta (bytes per batch — a production store on
  an ACID table format gets this from transaction ids instead);
- single WRITER per store (the one stream / the one takedown job) —
  the same contract every ledger in this engine ships.

Probes derive the ``(w, bits)`` word table from the summed counts and
run the standard broadcast probe — O(sum of delta sizes) read +
O(m) groupBy, never anything scaling with corpus size.

Time travel (round 10 continuation): the applied ``log`` is in
APPLIED order (the single-writer contract makes that order
well-defined), so ``read_counts_as_of(version)`` reconstructs any
historical state as the sum of a log PREFIX, exactly the
Delta-Lake/Iceberg version-read idea expressed over plain parquet
partitions; the live table is ``read_counts_as_of`` the latest
version. Compaction is also the VACUUM: once deltas are absorbed into
the base, every version that cuts the log strictly before the
absorption horizon is physically unreconstructable and the read raises
instead of silently returning the compacted state — the same
retention trade a `VACUUM`'d Delta table makes. Versions at or past
the horizon read as the base (the absorbed prefix) plus the surviving
per-delta partitions, selected by a partition-column filter so the
scan prunes to exactly the needed files. This store is the one whose
layout retains per-batch history (the bit screen keeps a single word
table; the exact ledgers rewrite touched buckets), which is why time
travel lives here.
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
    screen_totals,
)
from ..storage import (
    LayoutError,
    check_geometry,
    commit,
    open_store,
    read_parquet_if_exists,
    read_state,
    rewrite,
    vacuum,
)

__all__ = [
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

DEFAULT_WORDS = 1 << 16
DEFAULT_K = 5
BASE_DELTA = "base"


def _open(
    spark: SparkSession, path: str, n_words: int, k: int
) -> tuple[int, dict]:
    return open_store(
        spark, path, {"n_words": int(n_words), "k": int(k)},
        {"log": [], "absorbed": [], "base": None},
    )


def live_deltas(state: dict) -> list[str]:
    """The delta partitions every live read sums: the compacted base
    plus each logged delta compaction has not absorbed."""
    absorbed = set(state["absorbed"])
    base = [state["base"]] if state["base"] else []
    return base + [d for d in state["log"] if d not in absorbed]


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
    already applied — the log lists it, or compaction absorbed it.
    ``sign=-1`` is the takedown path. Single-writer contract (module
    docstring)."""
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
    idling the local cluster); ONE log entry then lists the new ids in
    the CALLER's list order, so the applied log — and therefore every
    `read_counts_as_of` version cut — is exactly what the equivalent
    sequence of `write_counting_delta` calls would have produced.

    Ids the log already lists (or compaction absorbed) are refused.
    The batch is all-or-nothing: if any write fails, nothing is
    logged, the deltas that did land stay invisible, and a replay of
    the same batch overwrites them.

    Returns ``{delta_id: wrote_anything}`` (False = refused replay).
    """
    ids = [d for d, _df, _s in items]
    if len(set(ids)) != len(ids):
        raise LayoutError(f"duplicate delta ids in one batch append: {ids}")
    if any(d == BASE_DELTA or d.startswith(f"{BASE_DELTA}-") for d in ids):
        raise LayoutError(
            f"delta ids '{BASE_DELTA}' and '{BASE_DELTA}-*' are reserved "
            "for compaction output"
        )
    n, state = _open(spark, path, n_words, k)
    done = set(state["log"])
    pending = [it for it in items if it[0] not in done]

    def _write_one(item: tuple[str, DataFrame, int]) -> None:
        delta_id, keys, sign = item
        delta = counting_build(keys, key, n_words, k)
        if sign < 0:
            delta = delta.select("p", (-F.col("cnt")).alias("cnt"))
        # coalesce(1): one file per delta — the table is bounded by m
        # rows, never worth parallel output.
        delta.coalesce(1).write.mode("overwrite").parquet(
            f"{path.rstrip('/')}/delta_id={delta_id}"
        )

    overlap(spark, *[partial(_write_one, it) for it in pending])
    if pending:
        commit(spark, path, n + 1, {
            **state, "log": state["log"] + [d for d, _df, _s in pending],
        })
    return {d: d not in done for d in ids}


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


def _sum_deltas(
    spark: SparkSession, path: str, wanted: list[str]
) -> DataFrame:
    """Per-position sum over the ``wanted`` delta partitions (a
    partition filter, so the scan prunes to their files), zero rows
    dropped (negative rows kept as over-retraction evidence)."""
    deltas = read_parquet_if_exists(spark, path) if wanted else None
    if deltas is None:
        return local_rows_df(spark, [], "p long, cnt long")
    return (
        deltas.filter(F.col("delta_id").isin(wanted))
        .groupBy("p")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") != 0)
    )


def read_counts(spark: SparkSession, path: str) -> DataFrame:
    """Live position-count table: `read_counts_as_of` the latest
    version (empty before the first delta is logged)."""
    found = read_state(spark, path)
    if found is None or not found[1]["log"]:
        return local_rows_df(spark, [], "p long, cnt long")
    return read_counts_as_of(spark, path, len(found[1]["log"]))


def _versions(path: str, found: tuple[int, dict] | None) -> dict:
    if found is None:
        raise LayoutError(f"{path}: not a counting store")
    log, absorbed = found[1]["log"], set(found[1]["absorbed"])
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


def store_versions(spark: SparkSession, path: str) -> dict:
    """Version-surface introspection: ``log`` (applied order),
    ``absorbed`` (compaction tombstones), ``latest`` (= len(log)), and
    ``min_readable`` — the smallest version whose log prefix covers
    every absorbed delta (1 when nothing was compacted). Versions below
    ``min_readable`` were vacuumed by compaction and cannot be read."""
    return _versions(path, read_state(spark, path))


def read_counts_as_of(
    spark: SparkSession, path: str, version: int
) -> DataFrame:
    """Historical position-count table as of ``version`` — the state
    after the first ``version`` entries of the applied log (1-based;
    ``version == len(log)`` is the current state). Reconstruction is a
    partition-column filter over the store (``delta_id IN`` the prefix,
    plus the base when compaction absorbed part of it) + the per-
    position sum, so the scan prunes to exactly the needed delta
    files. Raises for versions compaction has vacuumed (the absorbed
    set is not covered by the requested prefix — the physical deltas
    no longer exist)."""
    found = read_state(spark, path)
    vs = _versions(path, found)
    if not 1 <= int(version) <= vs["latest"]:
        raise LayoutError(
            f"{path}: version {version} out of range — the log holds "
            f"versions 1..{vs['latest']}"
        )
    if int(version) < vs["min_readable"]:
        raise LayoutError(
            f"{path}: version {version} predates the compaction "
            f"horizon — compaction absorbed {vs['absorbed']} into the "
            "base and vacuumed their per-delta partitions; the earliest "
            f"readable version is {vs['min_readable']}"
        )
    state = found[1]
    wanted = [d for d in vs["log"][: int(version)] if d not in vs["absorbed"]]
    if state["base"]:
        wanted.append(state["base"])
    return _sum_deltas(spark, path, wanted)


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
    found = read_state(spark, path)
    if found is not None:
        check_geometry(path, found[1], n_words=int(n_words), k=int(k))
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
    flags = probe_counting(keys, key, path, n_words, k)
    screen_totals(flags, batch_id).coalesce(1).write.mode("ignore").parquet(
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
    """Sum the live deltas into a new ``delta_id=base-<N>`` partition,
    log it as entry ``N`` with the absorbed ids tombstoned, then delete
    the absorbed partitions — the small-file hygiene pass, run between
    stream runs. Post-compaction the live table is unchanged by
    construction (summation is associative); a replay of an absorbed
    batch is refused by the tombstone. A store with nothing to absorb
    is left as it is.

    Compaction is also the VACUUM (module docstring): absorbed deltas'
    partitions are physically gone afterwards, so every version before
    the absorption horizon becomes unreadable by `read_counts_as_of` —
    run it on the retention cadence you can afford to lose history at."""
    found = read_state(spark, path)
    if found is None:
        return
    n, state = found
    check_geometry(path, state, n_words=int(n_words), k=int(k))
    absorb = [d for d in state["log"] if d not in set(state["absorbed"])]
    if not absorb:
        vacuum(spark, path, {f"delta_id={d}" for d in live_deltas(state)})
        return
    base = f"{BASE_DELTA}-{n + 1}"
    summed = _sum_deltas(spark, path, live_deltas(state)).coalesce(1)
    rewrite(
        spark, path, n,
        {**state, "absorbed": sorted(set(state["absorbed"]) | set(absorb)),
         "base": base},
        f"delta_id={base}",
        lambda d: summed.write.mode("overwrite").parquet(d),
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
