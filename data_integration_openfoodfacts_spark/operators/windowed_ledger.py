"""Time-windowed key ledger — sliding-window dedup with O(1) expiry.

The append-forever ledgers (`novelty_ledger`, the band ledger)
answer "seen EVER"; production crawl dedup usually wants
"seen within the retention window" (last N days / last N snapshots),
and an append-forever store can only get there by rewriting itself.
This layout makes age a PARTITION DIMENSION instead:

    path/epoch=<E>/kb=<B>/part-*.parquet

- **Append** = one new ``epoch=E`` directory (bucket-repartitioned
  inside, one file per touched bucket — the shared layout's file-count
  hygiene), idempotent by the completed-directory check
  (_SUCCESS present → replay writes nothing; torn → delete + rewrite),
  the same crash contract as `streaming/counting_store` — including
  sidecar HEAL on replay: a crash between an epoch's parquet commit
  and the sidecar stamp leaves an orphaned store that probes/expiry
  LOUDLY refuse (never "all unseen"); replaying the append
  sample-validates the caller's bucket count against the orphaned
  data, then stamps it.
- **Expiry** = DELETING whole epoch directories — O(1) filesystem
  metadata work, no rewrite of surviving data, no read of expired
  data. The sidecar records ``expired_through``; an append for an
  epoch at or below it is REFUSED (a replayed pre-expiry batch must
  not resurrect expired keys — the same tombstone idea as the counting
  store's absorbed list, expressed as a single watermark because
  epochs are totally ordered).
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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import (
    claim_partition,
    hadoop_fs,
    read_json_sidecar,
    read_parquet_if_exists,
    write_json_sidecar,
)
from .bucketed_ledger import (
    BucketLayoutError,
    prune_to_buckets,
    touched_buckets,
    validate_layout,
)
from .novelty_ledger import kb_of

__all__ = [
    "append_window_epoch",
    "expire_through",
    "read_window",
    "score_tranche_windowed",
    "window_meta",
]

WINDOW_META = "_window_meta.json"
KB_COL = "kb"
DEFAULT_BUCKETS = 64

_ORPHAN_MSG = (
    "{path}: windowed ledger has epoch data but no " + WINDOW_META +
    " sidecar (crash between an epoch's parquet commit and the sidecar"
    " stamp) — replay the append to heal it; refusing to guess a"
    " bucket count (a wrong guess silently reports every key unseen)"
)


def window_meta(spark: SparkSession, path: str) -> dict:
    """{n_buckets, expired_through} — expired_through is -1 until the
    first expiry (all epochs >= 0 live)."""
    meta = read_json_sidecar(spark, path, WINDOW_META)
    if meta is None:
        return {"n_buckets": None, "expired_through": -1}
    return {
        "n_buckets": int(meta["n_buckets"]),
        "expired_through": int(meta.get("expired_through", -1)),
    }


def _write_window_meta(
    spark: SparkSession, path: str, n_buckets: int, expired_through: int
) -> None:
    write_json_sidecar(
        spark, path, WINDOW_META,
        {"bucket_col": KB_COL, "n_buckets": int(n_buckets),
         "expired_through": int(expired_through)},
    )


def _min_epoch_present(spark: SparkSession, path: str) -> int:
    """Smallest ``epoch=`` directory id under ``path`` — pure
    filesystem metadata (the heal's conservative-watermark input)."""
    fs, root, _jvm = hadoop_fs(spark, path)
    ids = [
        int(s.getPath().getName().split("=", 1)[1])
        for s in fs.listStatus(root)
        if s.getPath().getName().startswith("epoch=")
    ]
    if not ids:
        raise BucketLayoutError(
            f"{path}: populated windowed ledger has no epoch= "
            "directories — not a windowed-ledger layout"
        )
    return min(ids)


def append_window_epoch(
    keys: DataFrame,
    key_col: str,
    path: str,
    epoch: int,
    n_buckets: int = DEFAULT_BUCKETS,
) -> bool:
    """Append one epoch's key rows (md5-hex strings in ``key_col``,
    extra columns carried along). Returns False without writing when
    the epoch was already applied (completed directory) or already
    EXPIRED (resurrection guard). Single-writer contract as for every
    store in this engine."""
    spark = keys.sparkSession
    epoch = int(epoch)
    meta = window_meta(spark, path)
    if meta["n_buckets"] is not None and meta["n_buckets"] != n_buckets:
        raise BucketLayoutError(
            f"{path}: windowed ledger was laid out with n_buckets="
            f"{meta['n_buckets']}, caller passed {n_buckets}"
        )
    if meta["n_buckets"] is None and read_window(spark, path) is not None:
        # Crash window repair (counting_store's write_counting_delta
        # contract): an epoch's parquet committed but the sidecar stamp
        # below never landed. Sample-validate the caller's n_buckets
        # against the ORPHANED data before trusting it — a replay (or a
        # later append) passing a different count would otherwise stamp
        # a geometry the existing epoch was not written with and
        # mis-prune every future probe — then heal the stamp.
        validate_layout(
            spark, path, read_window(spark, path), KB_COL,
            lambda n: kb_of(F.col(key_col), n), n_buckets,
        )
        # The sidecar can also vanish in a LATER stamp's
        # delete-then-rename gap (expire_through, or this function's
        # own re-stamp after an expiry) — round-12 fix of the round-11
        # ADVICE: healing with -1 would then accept a replayed append
        # of an already-EXPIRED epoch and resurrect forgotten keys,
        # the inverse of the takedown semantics. Derive a conservative
        # watermark from the layout instead: expiry deletes ALL epochs
        # <= the watermark, so every survivor is above it and
        # (min surviving epoch - 1) >= the true value. For 0-based
        # epoch stores this is exactly -1 when no expiry ever happened
        # (epoch 0 still present). The one casualty is a first-time
        # append into a GAP below the min survivor on stores whose
        # epochs don't start at 0 — refused as possibly-expired; an
        # operator who knows better edits the sidecar.
        healed_mark = _min_epoch_present(spark, path) - 1
        _write_window_meta(spark, path, n_buckets, healed_mark)
        meta = {"n_buckets": n_buckets, "expired_through": healed_mark}
    if epoch <= meta["expired_through"]:
        return False
    edir = f"{path.rstrip('/')}/epoch={epoch}"
    if not claim_partition(spark, edir):
        return False
    rows = keys.withColumn(KB_COL, kb_of(F.col(key_col), n_buckets))
    (
        rows.repartition(F.col(KB_COL))
        .write.partitionBy(KB_COL)
        .mode("errorifexists")
        .parquet(edir)
    )
    _write_window_meta(spark, path, n_buckets, meta["expired_through"])
    return True


def expire_through(
    spark: SparkSession, path: str, epoch: int
) -> list[int]:
    """Drop every ``epoch=`` directory with id <= ``epoch`` and advance
    the watermark. Pure filesystem metadata work — nothing surviving is
    read or rewritten. Returns the dropped epoch ids."""
    meta = window_meta(spark, path)
    if meta["n_buckets"] is None:
        if read_window(spark, path) is not None:
            raise BucketLayoutError(_ORPHAN_MSG.format(path=path))
        raise BucketLayoutError(f"{path}: not a windowed ledger")
    fs, root, jvm = hadoop_fs(spark, path)
    dropped = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not name.startswith("epoch="):
            continue
        eid = int(name.split("=", 1)[1])
        if eid <= int(epoch):
            fs.delete(status.getPath(), True)
            dropped.append(eid)
    new_mark = max(int(epoch), meta["expired_through"])
    _write_window_meta(spark, path, meta["n_buckets"], new_mark)
    return sorted(dropped)


def read_window(spark: SparkSession, path: str) -> DataFrame | None:
    """The live store with its ``epoch`` and ``kb`` partition columns,
    or None before the first append survives."""
    return read_parquet_if_exists(spark, path)


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
    meta = window_meta(spark, path)
    if max_epoch is not None and meta["n_buckets"] is not None and (
        int(max_epoch) <= meta["expired_through"]
    ):
        raise BucketLayoutError(
            f"{path}: as-of epoch {max_epoch} is at or below the expiry "
            f"watermark {meta['expired_through']} — every epoch of that "
            "state was vacuumed; the earliest readable as-of point is "
            f"{meta['expired_through'] + 1}"
        )
    store = read_window(spark, path)
    if store is not None and meta["n_buckets"] is None:
        # A populated-but-sidecarless store is the append crash window,
        # not an empty ledger — answering "all unseen" here would be a
        # silently wrong dedup verdict (round-11 ADVICE).
        raise BucketLayoutError(_ORPHAN_MSG.format(path=path))
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
