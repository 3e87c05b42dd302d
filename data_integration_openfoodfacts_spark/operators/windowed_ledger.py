"""Time-windowed key ledger — sliding-window dedup with O(1) expiry.

The append-forever ledgers (`novelty_ledger`, the band ledger)
answer "seen EVER"; production crawl dedup usually wants
"seen within the retention window" (last N days / last N snapshots),
and an append-forever store can only get there by rewriting itself.
This layout makes age a PARTITION DIMENSION instead:

    path/epoch=<E>/kb=<B>/part-*.parquet

- **Append** = one new ``epoch=E`` directory (bucket-repartitioned
  inside, one file per touched bucket — the shared layout's file-count
  hygiene), live once the store log (`storage`) lists ``E``. A replay
  of a listed epoch writes nothing; a crash before the log entry
  leaves an unlisted directory that no probe reads and the replay
  overwrites.
- **Expiry** = logging the new watermark ``expired_through`` (and the
  surviving epochs), then DELETING the retired epoch directories —
  O(1) filesystem metadata work, no rewrite of surviving data, no read
  of expired data. An append for an epoch at or below the watermark
  is REFUSED (a replayed pre-expiry batch must not resurrect expired
  keys — the same tombstone idea as the counting store's absorbed
  list, expressed as a single watermark because epochs are totally
  ordered).
- **Probe** = the round-8 broadcast-TRANCHE semi direction over a scan
  pruned BOTH ways: ``epoch > expired_through`` (and any caller-
  narrowed window) and ``kb IN touched`` — both are partition filters,
  so a probe of k keys against a 100 TB window store lists only the
  files of the live epochs' touched buckets.

The ledger never needs compaction ACROSS epochs (expiry retires whole
directories before small files accumulate into a problem; per-epoch
writes are already one file per touched bucket).

Key convention: md5-hex keys and the ``kb = md5_long(key) % B`` bucket
(`novelty_ledger.kb_of`), so windowed and append-forever stores share
probe mechanics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import (
    LayoutError,
    commit,
    open_store,
    read_parquet_if_exists,
    read_state,
    vacuum,
)
from .bucketed_ledger import prune_to_buckets, touched_buckets
from .novelty_ledger import kb_of

__all__ = [
    "append_window_epoch",
    "expire_through",
    "read_window",
    "score_tranche_windowed",
]

KB_COL = "kb"
DEFAULT_BUCKETS = 64


def append_window_epoch(
    keys: DataFrame,
    key_col: str,
    path: str,
    epoch: int,
    n_buckets: int = DEFAULT_BUCKETS,
) -> bool:
    """Append one epoch's key rows (md5-hex strings in ``key_col``,
    extra columns carried along). Returns False without writing when
    the log already lists the epoch or its watermark EXPIRED it
    (resurrection guard). Single-writer contract as for every store in
    this engine."""
    spark = keys.sparkSession
    epoch = int(epoch)
    n, state = open_store(
        spark, path, {"bucket_col": KB_COL, "n_buckets": int(n_buckets)},
        {"expired_through": -1, "epochs": []},
    )
    if epoch <= state["expired_through"] or epoch in state["epochs"]:
        return False
    rows = keys.withColumn(KB_COL, kb_of(F.col(key_col), n_buckets))
    (
        rows.repartition(F.col(KB_COL))
        .write.partitionBy(KB_COL)
        .mode("overwrite")
        .parquet(f"{path.rstrip('/')}/epoch={epoch}")
    )
    commit(spark, path, n + 1, {
        **state, "epochs": sorted(state["epochs"] + [epoch]),
    })
    return True


def expire_through(
    spark: SparkSession, path: str, epoch: int
) -> list[int]:
    """Retire every epoch with id <= ``epoch``: log the advanced
    watermark, then delete the retired ``epoch=`` directories. Pure
    filesystem metadata work — nothing surviving is read or rewritten.
    Returns the epoch ids this call retired."""
    found = read_state(spark, path)
    if found is None:
        raise LayoutError(f"{path}: not a windowed ledger")
    n, state = found
    mark = max(int(epoch), state["expired_through"])
    live = [e for e in state["epochs"] if e > mark]
    if mark != state["expired_through"]:
        commit(spark, path, n + 1, {
            **state, "expired_through": mark, "epochs": live,
        })
    vacuum(spark, path, {f"epoch={e}" for e in live})
    return [e for e in state["epochs"] if e <= mark]


def read_window(spark: SparkSession, path: str) -> DataFrame | None:
    """The live epochs' rows with their ``epoch`` and ``kb`` partition
    columns, or None before the first append lands."""
    found = read_state(spark, path)
    if found is None or not found[1]["epochs"]:
        return None
    store = read_parquet_if_exists(spark, path)
    return store.filter(F.col("epoch").isin(found[1]["epochs"]))
def score_tranche_windowed(
    tranche_keys: DataFrame,
    key_col: str,
    path: str,
    min_epoch: int | None = None,
    max_epoch: int | None = None,
) -> DataFrame:
    """(key, seen_in_window) for each distinct tranche key against the
    live window, optionally narrowed on either side: ``min_epoch``
    queries a window tighter than the physical retention, ``max_epoch``
    is the AS-OF read — "seen in the RETAINED window as of epoch E"
    (q179's time-travel idea on the windowed layout, where retained
    history is the epochs themselves). Unlike the counting store, a
    partially-vacuumed as-of point does NOT raise: the window IS the
    semantic, so excluding already-expired epochs is the correct
    answer, not partial state. Only an as-of point wholly at/below the
    expiry watermark — where NOTHING of that state remains — raises.
    Broadcast-TRANCHE semi probe over a doubly-pruned scan: epoch range
    and touched buckets are BOTH partition filters."""
    spark = tranche_keys.sparkSession
    found = read_state(spark, path)
    meta = found[1] if found else {"expired_through": -1}
    if max_epoch is not None and int(max_epoch) <= meta["expired_through"]:
        raise LayoutError(
            f"{path}: as-of epoch {max_epoch} is at or below the expiry "
            f"watermark {meta['expired_through']} — every epoch of that "
            "state was vacuumed; the earliest readable as-of point is "
            f"{meta['expired_through'] + 1}"
        )
    store = read_window(spark, path)
    keys = tranche_keys.select(F.col(key_col)).distinct().localCheckpoint(
        eager=True
    )
    if store is None:
        return keys.withColumn("seen_in_window", F.lit(False))
    floor_epoch = meta["expired_through"]
    if min_epoch is not None:
        floor_epoch = max(floor_epoch, int(min_epoch) - 1)
    kbs = touched_buckets(
        keys, lambda n: kb_of(F.col(key_col), n), meta["n_buckets"]
    )
    scan = store.filter(F.col("epoch") > floor_epoch)
    if max_epoch is not None:
        scan = scan.filter(F.col("epoch") <= int(max_epoch))
    live = prune_to_buckets(scan, KB_COL, kbs)
    seen = live.join(F.broadcast(keys), key_col, "left_semi").select(
        key_col
    ).distinct()
    return keys.join(
        seen.withColumn("seen_in_window", F.lit(True)),
        key_col, "left",
    ).fillna(False, subset=["seen_in_window"])
