"""Takedown-request stream — right-to-be-forgotten as a queue DRAIN.

Every store in this engine has a batch takedown path (negative
counting deltas — `streaming/counting_store.retract_counting`;
touched-buckets-only rewrites — `operators/retraction.py`), and every
INGEST direction has a stream runner; production takedown requests,
though, arrive as a queue (compliance tickets, licence withdrawals,
contaminated-source recalls), not as one batch. This runner completes
the symmetry: an availableNow drain over a directory of
takedown-request files, each micro-batch applied to BOTH takedown
surfaces:

- the COUNTING screen at ``counting_path``: a negative delta with
  ``delta_id = takedown-batch-<bid>`` — replay-idempotent by the
  store's own completed-directory check and compaction tombstone, so
  a crash/restart never double-subtracts;
- optionally the EXACT bucketed ledger at ``ledger_path``
  (`operators/retraction.retract_from_novelty_ledger`): the
  touched-buckets-only rewrite. A crash replay re-runs the anti-join,
  which is a no-op once the keys are gone — sound because a
  takedown-only drain never interleaves re-inserts of the same keys
  (the ingest runners own inserts; run them against the same ledger
  SEQUENTIALLY, not concurrently — the stores are single-writer).

Semantics contrast the audit row makes visible (and q194's oracle
pins): the counting screen subtracts per OWNER OCCURRENCE — a key
shared with a surviving document keeps every position count >= 1 and
stays member — while the exact ledger retracts per KEY — a requested
key vanishes even when another owner survives. Right-to-be-forgotten
over shared content needs the counting store (or an owner-aware
ledger); the per-key ledger is the right surface for revoking the KEY
itself (contaminated string, leaked secret).

Audit rows land FIRST per batch (``mode("ignore")``
first-writer-wins — the same totals-first crash argument as the
ingest runners: a replayed batch must not re-stamp totals computed
against post-application state).

Request schema: the corpus docs stream schema
(`corpus_ingest.DOCS_STREAM_SCHEMA`) — a request IS the document to
forget; keys are exact-text md5, the keep-latest family's key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localframe import local_rows_df
from .counting_store import DEFAULT_K, DEFAULT_WORDS, retract_counting

__all__ = [
    "takedown_batch",
    "run_takedown_stream",
    "fresh_requests",
    "content_digest_col",
]


def content_digest_col(key_col: str):
    """Order-invariant content digest of a key multiset: the sum of
    each key's truncated-md5 long reduced mod 2^32 (sums of values
    < 2^32 stay below long range for any batch under 2^31 rows).
    Shared by `takedown_batch` and its property test so the delta-id
    arithmetic has one definition."""
    return F.coalesce(
        F.sum(
            F.conv(F.substring(key_col, 1, 15), 16, 10).cast("long")
            % F.lit(2**32)
        ),
        F.lit(0),
    )

#: applied-requests ledger layout (the shared bucketed recipe):
#: request ids persist as md5 under ``rb = md5_long(id) % B`` so the
#: per-batch dedupe probe prunes the ledger read to touched buckets
RB_COL = "rb"
REQUEST_BUCKETS = 64


def _rb_of(n_buckets: int) -> Column:
    from ..operators.novelty_ledger import kb_of

    return kb_of(F.col("request_md5"), n_buckets)


def fresh_requests(
    requests: DataFrame,
    applied_path: str,
    request_id_col: str = "doc_id",
) -> DataFrame:
    """The batch rows whose request id was NEVER applied before —
    per-REQUEST idempotence for unstable queues (duplicate deliveries,
    re-batched replays). One row per distinct id (a doubled id within
    one batch is one request), carrying ``request_md5``. Probe keeps
    the broadcast-TRANCHE direction over a bucket-pruned ledger scan:
    the applied ledger is never shuffled or broadcast."""
    from ..operators.bucketed_ledger import (
        prune_to_buckets,
        read_bucketed,
        touched_buckets,
    )

    spark = requests.sparkSession
    ids = requests.dropDuplicates([request_id_col]).withColumn(
        "request_md5", F.md5(F.col(request_id_col).cast("string"))
    )
    store, nb = read_bucketed(spark, applied_path)
    if store is None:
        return ids
    kbs = touched_buckets(ids.select("request_md5"), _rb_of, nb)
    seen = prune_to_buckets(store, RB_COL, kbs).join(
        F.broadcast(ids.select("request_md5")), "request_md5",
        "left_semi",
    )
    return ids.join(
        F.broadcast(seen.select("request_md5")), "request_md5",
        "left_anti",
    )


def takedown_batch(
    requests: DataFrame,
    counting_path: str,
    results_path: str,
    batch_id: int,
    n_words: int = DEFAULT_WORDS,
    k: int = DEFAULT_K,
    ledger_path: str | None = None,
    applied_path: str | None = None,
    request_id_col: str = "doc_id",
) -> None:
    """Apply one micro-batch of takedown requests. Occurrence keys
    (one md5 per request ROW — multiplicity is the counting store's
    whole point) feed the negative delta; the DISTINCT key set feeds
    the exact-ledger rewrite. The audit row (batch_id, n_requests,
    n_keys, delta_id) lands first, first-writer-wins.

    The counting delta is keyed by a CONTENT digest of the batch's key
    multiset (order-invariant sum of truncated md5 longs + the row
    count), not by batch position: a fresh-checkpoint re-drain of a
    GROWN or re-listed queue then refuses exactly the already-applied
    files and applies only the new ones — positional ids would pair
    old ids with different request sets and under-retract. One bounded
    1-row aggregate collect per batch (the k x d envelope convention).

    ``applied_path`` turns on per-REQUEST idempotence for unstable
    queues: the batch is first anti-joined against the applied-requests
    ledger (`fresh_requests`), only never-applied requests retract, and
    their ids append to the ledger LAST — so a crash anywhere replays
    into refused deltas / no-op rewrites and re-appends, converging
    UNDER STABLE BATCHING (the same granularity caveat as the content
    digest: `run_takedown_stream` keeps batch == file). A crash between
    the counting retraction and the ledger append, followed by a
    fresh-checkpoint replay that RE-GROUPS the crashed batch's
    requests, regroups the fresh subset into a different content
    digest and can double-retract those occurrences — appending the
    ledger first instead would flip the failure to UNDER-retraction on
    replay; takedown semantics make the current order the safer
    default. The audit's n_requests counts the FRESH subset."""
    spark = requests.sparkSession
    # Materialize the batch ONCE. A foreachBatch DataFrame re-plans
    # from the streaming file scan on EVERY action, and this function
    # runs several (stats agg, counting delta, per-bucket ledger
    # rewrite) — measured 6.5-7.5s per trigger vs ~2.8s on a
    # checkpointed frame at sf0.01 (round 12). Request batches are
    # bounded (a takedown queue file), so the checkpoint is cheap.
    requests = requests.localCheckpoint(eager=True)
    if applied_path is not None:
        requests = fresh_requests(
            requests, applied_path, request_id_col
        ).localCheckpoint(eager=True)
    keys = requests.select(F.md5("text").alias("text_md5"))
    stats = keys.agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.countDistinct("text_md5").alias("n_keys"),
        content_digest_col("text_md5").alias("digest"),
    ).collect()[0]
    delta_id = f"batch-{stats['n_requests']}-{stats['digest']}"
    audit = local_rows_df(
        spark,
        [(int(batch_id), int(stats["n_requests"]),
          int(stats["n_keys"]), delta_id)],
        "batch_id long, n_requests long, n_keys long, delta_id string",
    )
    audit.coalesce(1).write.mode("ignore").parquet(
        f"{results_path}/batch_id={batch_id}"
    )
    retract_counting(
        keys, "text_md5", counting_path, delta_id, n_words, k,
    )
    if ledger_path is not None:
        from ..operators.retraction import retract_from_novelty_ledger

        retract_from_novelty_ledger(
            requests.sparkSession,
            ledger_path,
            keys.select(F.col("text_md5").alias("shingle_md5")).distinct(),
        )
    if applied_path is not None and int(stats["n_requests"]) > 0:
        from ..operators.bucketed_ledger import append_bucketed, layout

        # LAST, so a crash before this line replays into refused
        # deltas / no-op rewrites and then re-appends (docstring).
        # The ledger's OWN bucket count wins over the module default.
        found = layout(spark, applied_path)
        append_bucketed(
            requests.select("request_md5"), applied_path, RB_COL,
            _rb_of, found[1] if found else REQUEST_BUCKETS,
            columns=["request_md5"],
        )


def run_takedown_stream(
    spark: SparkSession,
    requests_dir: str,
    counting_path: str,
    results_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    n_words: int = DEFAULT_WORDS,
    k: int = DEFAULT_K,
    ledger_path: str | None = None,
    compact_max_deltas: int | None = None,
    applied_path: str | None = None,
    request_id_col: str = "doc_id",
) -> None:
    """availableNow drain of the takedown queue. Whole-stream replay
    (same checkpoint, no new request files) is an end-to-end no-op;
    a replay FROM A FRESH checkpoint is also safe — delta ids are
    CONTENT digests (see `takedown_batch`), so re-draining a grown or
    re-listed queue refuses exactly the already-applied files and
    applies only new ones, and the ledger anti-joins already-gone
    keys. That's what makes the queue at-least-once deliverable.
    Granularity caveat: content keying identifies a BATCH, so replay
    safety needs stable batching granularity — keep
    ``max_files_per_trigger=1`` (the default; batch == file) so a
    re-drain sees the same batch contents. Truly unstable queues
    (duplicate deliveries, re-batched replays) additionally pass
    ``applied_path``: each batch is then deduped per REQUEST id
    against the applied-requests ledger before retracting (see
    `takedown_batch`)."""
    from .corpus_ingest import read_docs_stream

    def _batch(b: DataFrame, bid: int) -> None:
        takedown_batch(
            b, counting_path, results_path, bid,
            n_words=n_words, k=k, ledger_path=ledger_path,
            applied_path=applied_path, request_id_col=request_id_col,
        )
        if compact_max_deltas is not None:
            from ..operators.compaction_policy import (
                maybe_compact_counting,
            )

            # takedown deltas accumulate like ingest deltas; the
            # state-based trigger bounds read amplification (and, per
            # the policy module's vacuum warning, history retention)
            maybe_compact_counting(
                spark, counting_path, n_words, k, compact_max_deltas
            )

    stream = read_docs_stream(spark, requests_dir, max_files_per_trigger)
    (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
