"""Streaming corpus ingestion — the crawl-to-training-corpus path as a
Structured Streaming job: each micro-batch of documents is quality-
filtered (hashed linear classifier, q134's operator), exact-deduped
within the batch AND against the accumulated corpus, and APPENDED to
the corpus store.

Why append + dedup-against-target (not the events upsert's
rewrite-on-merge): a corpus is fact-sized — rewriting it per batch is
O(corpus); appending survivors is O(batch). The anti-join against the
target reads ONLY the md5 column (column-pruned parquet scan); at real
scale that column is the dedup ledger and would live behind a
partitioned index or the MinHash band index
(`similarity_dedup.incremental_minhash_dedup`, q128 — the near-dup
analogue of this exact-hash path, probed flat at 10x index growth in
SCALING_LLM.json).

Exactly-once note: foreachBatch appends are at-least-once on crash
replay, but the dedup-against-corpus makes the append IDEMPOTENT at
text granularity — a replayed batch's texts are already in the
ledger, so survivors of a replay are empty. (Delta/Iceberg would give
transactional appends; the swap-in point is this module's writer.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localframe import local_rows_df
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.dedup import dedup_keep_latest
from ..operators.quality_classifier import (
    hashed_linear_score,
    synthetic_weights,
)
from ..storage import read_parquet_if_exists

DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

#: Band-ledger bucket layout (round-7 VERDICT stretch item — the
#: novelty_ledger recipe applied to the near-dup index): rows persist
#: hive-partitioned by ``sb = md5_long(band:sig) % BAND_LEDGER_BUCKETS``
#: so a batch's collision probe prunes the ledger read to the buckets
#: its own signatures touch (PartitionFilters at file-listing level;
#: sizing math in operators/novelty_ledger.py's module doc applies
#: verbatim). A pre-existing ledger WITHOUT the sb column keeps its
#: legacy flat layout on append (mixed layouts don't read back);
#: ``compact_bands_path`` migrates it.
BAND_LEDGER_BUCKETS = 64
SB_COL = "sb"

#: Corpus-store bucket layout (round 8, same recipe): corpus rows
#: persist hive-partitioned by ``mb = md5_long_of_hex(text_md5) %
#: CORPUS_BUCKETS`` so each batch's EXACT-dedup probe prunes the
#: corpus md5 read to the buckets the batch's texts hash into. Gap
#: heals and text fetches key on doc_id and scan all buckets — only
#: the md5 membership probe prunes. Legacy flat corpora keep their
#: layout on append; ``compact_corpus_path`` migrates.
CORPUS_BUCKETS = 64
MB_COL = "mb"


def corpus_bucket(text_md5, n_buckets: int = CORPUS_BUCKETS):
    # text_md5 is ALREADY hex md5 — bucket on its 60-bit prefix (the
    # novelty ledger's kb_of convention), never md5-of-md5
    from ..operators.novelty_ledger import kb_of

    return kb_of(text_md5, n_buckets)


def _mb_of_buckets(n_buckets: int):
    return corpus_bucket(F.col("text_md5"), n_buckets)


def _sb_of_buckets(n_buckets: int):
    return band_bucket(F.col("band"), F.col("sig"), n_buckets)


def append_corpus(
    rows: DataFrame,
    target_path: str,
    partitioned: bool = True,
    n_buckets: int = CORPUS_BUCKETS,
) -> None:
    """Append survivor rows (carrying ``text_md5``) to the corpus
    store under its layout — bucketed (default) or legacy flat.
    Layout mechanics (bucket repartition, sidecar, loud mismatch
    refusal) are the shared helper's
    (:mod:`operators.bucketed_ledger`)."""
    if not partitioned:
        rows.write.mode("append").parquet(target_path)
        return
    from ..operators.bucketed_ledger import append_bucketed

    append_bucketed(rows, target_path, MB_COL, _mb_of_buckets, n_buckets)


def band_bucket(band, sig, n_buckets: int = BAND_LEDGER_BUCKETS):
    from ..operators.similarity_dedup import md5_long

    return F.pmod(
        md5_long(F.concat(band.cast("string"), F.lit(":"), sig)),
        F.lit(n_buckets),
    ).cast("int")


def append_bands(
    rows: DataFrame,
    bands_path: str,
    partitioned: bool = True,
    n_buckets: int = BAND_LEDGER_BUCKETS,
) -> None:
    """Append (doc_id, band, sig) rows to the band ledger under its
    layout — bucketed (default) or legacy flat. Layout mechanics are
    the shared helper's (:mod:`operators.bucketed_ledger`)."""
    rows = rows.select("doc_id", "band", "sig")
    if not partitioned:
        rows.write.mode("append").parquet(bands_path)
        return
    from ..operators.bucketed_ledger import append_bucketed

    append_bucketed(rows, bands_path, SB_COL, _sb_of_buckets, n_buckets)


def read_docs_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(DOCS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _exact_dedup_stage(
    batch: DataFrame,
    target_path: str,
    num_buckets: int,
    threshold: float,
    observations: dict | None = None,
) -> DataFrame:
    """Shared front half of both ingest paths: quality keep ->
    ``text_md5`` -> in-batch exact dedup (lowest doc_id per text) ->
    anti-join the corpus's md5 ledger. Returns the exact-level
    survivors (NOT yet written).

    ``observations``: optional {"in": Observation, "quality":
    Observation} — attached with ``observe`` so the per-stage row
    counts ride the job that materializes the chain anyway (ZERO extra
    actions, unlike ``count()`` probes which would re-run the quality
    classifier per metric). The stage also records RECOUNT FALLBACK
    frames under ``observations["_fallbacks"]``: AQE's empty-relation
    propagation can eliminate a CollectMetrics node outright when a
    join input turns out empty at runtime (which of the four
    observations survives depends on shuffle-partition config — seen
    with both "in" and "neardup"), and an eliminated observation's
    ``get`` raises instead of returning 0. The fallback recount is
    deterministic (same frames) and only ever runs on that
    empty-plan corner."""
    spark = batch.sparkSession
    if observations:
        observations.setdefault("_fallbacks", {})["in"] = batch
    if observations and "in" in observations:
        batch = batch.observe(
            observations["in"], F.count(F.lit(1)).alias("n")
        )
    keep = (
        hashed_linear_score(
            batch,
            synthetic_weights(spark, num_buckets),
            num_buckets=num_buckets,
            threshold=threshold,
        )
        .filter(F.col("keep"))
        .select("doc_id")
    )
    filtered = batch.join(keep, "doc_id").withColumn(
        "text_md5", F.md5("text")
    )
    if observations:
        observations["_fallbacks"]["quality"] = filtered
    if observations and "quality" in observations:
        filtered = filtered.observe(
            observations["quality"], F.count(F.lit(1)).alias("n")
        )
    deduped = dedup_keep_latest(
        filtered, keys=["text_md5"], order_by=[F.col("doc_id").asc()]
    )
    existing = read_parquet_if_exists(spark, target_path)
    if existing is not None:
        # Flipped probe direction (round 8, the ledger rule): scan the
        # CORPUS md5 column with the batch's bounded keys broadcast —
        # the old `deduped left_anti corpus_md5` planned BuildRight
        # and broadcast (or shuffled) the O(corpus) md5 column per
        # micro-batch. `seen` is bounded by the batch (the corpus is
        # unique-by-text_md5 by construction), so the final anti-join
        # broadcasts a batch-sized frame. The batch is checkpointed
        # FIRST so its classifier/window chain isn't evaluated twice
        # (once for the broadcast, once as the anti-join's left) —
        # this is also the action that fills the in/quality
        # observations.
        deduped = deduped.localCheckpoint(eager=True)
        ledger = existing
        if MB_COL in existing.columns:
            from ..operators.bucketed_ledger import (
                prune_to_buckets,
                store_n_buckets,
                touched_buckets,
                validate_layout,
            )

            # the store's OWN bucket count (sidecar; round-8 ADVICE:
            # the old hardcoded CORPUS_BUCKETS probed a non-default
            # store with the wrong modulus and re-admitted duplicates)
            b_eff = store_n_buckets(
                spark, target_path, MB_COL, CORPUS_BUCKETS
            )
            validate_layout(
                spark, target_path, existing, MB_COL, _mb_of_buckets, b_eff
            )
            # bounded driver envelope (<= b_eff ints): the batch's
            # touched md5 buckets as a partition filter
            mbs = touched_buckets(deduped, _mb_of_buckets, b_eff)
            ledger = prune_to_buckets(existing, MB_COL, mbs)
        seen = ledger.select("text_md5").join(
            F.broadcast(deduped.select("text_md5")), "text_md5", "left_semi"
        )
        deduped = deduped.join(F.broadcast(seen), "text_md5", "left_anti")
    return deduped


def ingest_corpus_batch(
    batch: DataFrame,
    target_path: str,
    num_buckets: int = 4096,
    threshold: float = 0.5,
) -> None:
    """One micro-batch: quality keep -> in-batch exact dedup (lowest
    doc_id per text) -> anti-join the corpus ledger -> append.

    The stored corpus carries a ``text_md5`` column so the ledger read
    is a single-column scan, and lands md5-bucketed so that scan
    PRUNES to the batch's touched buckets (legacy flat corpora keep
    their layout).
    """
    from ..operators.bucketed_ledger import store_n_buckets

    spark = batch.sparkSession
    existing = read_parquet_if_exists(spark, target_path)
    partitioned = existing is None or MB_COL in existing.columns
    append_corpus(
        _exact_dedup_stage(batch, target_path, num_buckets, threshold),
        target_path,
        partitioned=partitioned,
        # the store's own layout, not the module default — an ingest
        # into a non-default-bucketed corpus keeps its layout instead
        # of tripping the append validation
        n_buckets=store_n_buckets(spark, target_path, MB_COL, CORPUS_BUCKETS),
    )


def ingest_corpus_batch_neardup(
    batch: DataFrame,
    target_path: str,
    bands_path: str,
    num_buckets: int = 4096,
    threshold: float = 0.5,
    run_ledger_path: str | None = None,
    batch_id: int = -1,
    num_hashes: int = 8,
    band_size: int = 2,
) -> None:
    """Near-duplicate-aware micro-batch ingest: quality keep -> exact
    in-batch + vs-corpus dedup (as :func:`ingest_corpus_batch`) ->
    MinHash-LSH dedup against the corpus's PERSISTED band-signature
    ledger (``incremental_minhash_dedup``, q128's operator) -> append
    survivors to the corpus and their signatures to the ledger.

    The band ledger at ``bands_path`` is (doc_id, band, sig) — the
    O(|batch|)-per-trigger crawl-ingestion pattern: the corpus text is
    never re-shingled; only the incoming batch computes signatures.

    Crash-replay semantics (foreachBatch appends are at-least-once):

    - The EXACT md5 anti-join makes replays idempotent at text
      granularity — a replayed batch's surviving texts are already in
      the corpus, so the near-dup stage sees an empty batch.
    - The two appends (corpus, then ledger) are not atomic. Corpus is
      written FIRST: a crash in the gap leaves docs in the corpus with
      no signatures. The ledger append therefore covers corpus docs
      missing from the ledger — not just this batch's survivor set —
      so the NEXT successful batch heals any gap (self-repairing; the
      reverse order would instead drop a replayed doc against its own
      orphaned signatures and lose it permanently). The gap-id scan
      is doc_id-projections ONLY (corpus doc_id anti-join ledger
      doc_id — column-pruned parquet scans, the same O(ledger-
      metadata) cost class as the md5 ledger read); the gap-id set is
      normally bounded by one batch (this batch's too-short survivors,
      plus at most one crashed batch's survivors) but stays
      DISTRIBUTED regardless: text is fetched by a left-semi join
      against the checkpointed gap-id frame — AQE broadcasts the small
      gap side in the normal case and shuffle-joins on a worst-case
      ledger wipe, so no id list ever rides the driver (round-7
      VERDICT #3). When the gap is empty (a healthy run with no short
      docs) the heal short-circuits entirely.
    - Survivors' band rows come from the collision check's already-
      checkpointed signatures (``incremental_minhash_dedup_delta``) —
      the batch is shingled ONCE, as the O(batch) claim requires.
    - Docs too short to shingle (< n tokens — no signatures possible)
      get a SENTINEL ledger row (band=-1, sig='') so the heal scan
      never reselects them; ``minhash_band_signatures`` never emits
      band -1, so sentinels can't collide with any real signature.

    ``run_ledger_path``: optional per-batch RUN LEDGER (the streaming
    twin of q148's dataset-card stage accounting) — appends one row
    (batch_id, n_in, n_quality, n_exact, n_neardup) per trigger. The
    stage counts ride the batch's own jobs via ``observe`` +
    ``Observation`` (zero extra actions — a ``count()`` per stage
    would re-run the classifier and both dedup joins per metric).
    """
    from pyspark.sql import Observation

    from ..operators.similarity_dedup import (
        incremental_minhash_dedup_delta,
        minhash_band_signatures,
    )

    spark = batch.sparkSession
    obs: dict[str, Observation] = {}
    if run_ledger_path is not None:
        obs = {
            "in": Observation(),
            "quality": Observation(),
            "exact": Observation(),
            "neardup": Observation(),
        }
    # corpus layout detected BEFORE this batch's append (the exact
    # stage re-reads internally for its pruned md5 probe)
    corpus_existing = read_parquet_if_exists(spark, target_path)
    corpus_partitioned = (
        corpus_existing is None or MB_COL in corpus_existing.columns
    )
    deduped = _exact_dedup_stage(
        batch, target_path, num_buckets, threshold, observations=obs
    )
    if obs:
        deduped = deduped.observe(obs["exact"], F.count(F.lit(1)).alias("n"))
    # materialize the exact stage ONCE: both the near-dup signature
    # build and the survivors anti-join consume it — without this the
    # classifier + window dedup + O(corpus) md5 anti-join would run
    # twice per trigger (once for the delta op's checkpoint, once for
    # the survivors write). This is also the action that fills the
    # in/quality/exact observations.
    deduped = deduped.localCheckpoint(eager=True)
    # batch signatures FIRST — the delta op needs them checkpointed
    # anyway, and their (band, sig) keys drive the ledger-read pruning
    new_bands = minhash_band_signatures(
        deduped, "doc_id", "text",
        num_hashes=num_hashes, band_size=band_size,
    ).localCheckpoint(eager=True)
    bands_full = read_parquet_if_exists(spark, bands_path)
    ledger_partitioned = bands_full is None or SB_COL in bands_full.columns
    if bands_full is None:
        bands_full = local_rows_df(
            spark, [], "doc_id long, band long, sig string"
        )
    bands = bands_full.select("doc_id", "band", "sig")
    if ledger_partitioned and SB_COL in bands_full.columns:
        from ..operators.bucketed_ledger import (
            prune_to_buckets,
            store_n_buckets,
            touched_buckets,
            validate_layout,
        )

        sb_eff = store_n_buckets(
            spark, bands_path, SB_COL, BAND_LEDGER_BUCKETS
        )
        validate_layout(
            spark, bands_path, bands_full, SB_COL, _sb_of_buckets, sb_eff
        )
        # bounded driver envelope (<= sb_eff ints): the batch's touched
        # buckets, pushed as a partition filter so the collision
        # probe's ledger scan prunes at file-listing level
        sbs = touched_buckets(new_bands, _sb_of_buckets, sb_eff)
        bands_probe = prune_to_buckets(bands_full, SB_COL, sbs).select(
            "doc_id", "band", "sig"
        )
    else:
        bands_probe = bands
    # num_hashes/band_size must match the ledger's banding — after a
    # compact_bands_path() re-band, ingest with the new band_size
    survivors, delta = incremental_minhash_dedup_delta(
        deduped, bands_probe, "doc_id", "text",
        num_hashes=num_hashes, band_size=band_size,
        new_bands=new_bands,
    )
    if obs:
        obs["_fallbacks"]["exact"] = deduped
        obs["_fallbacks"]["neardup"] = survivors
        survivors = survivors.observe(
            obs["neardup"], F.count(F.lit(1)).alias("n")
        )
    from ..operators.bucketed_ledger import store_n_buckets

    mb_eff = store_n_buckets(spark, target_path, MB_COL, CORPUS_BUCKETS)
    sb_eff = store_n_buckets(spark, bands_path, SB_COL, BAND_LEDGER_BUCKETS)
    append_corpus(
        survivors, target_path,
        partitioned=corpus_partitioned, n_buckets=mb_eff,
    )
    # heal: corpus docs in neither the ledger nor this batch's delta
    # (crash-gap docs, plus this batch's too-short survivors). The
    # gap IDS come from doc_id-only projections — the corpus text
    # column is never scanned here (round-6 ADVICE: the old
    # text-carrying anti-join made the trigger O(corpus text bytes)),
    # and the id frame stays distributed (round-7 VERDICT #3): text is
    # fetched by a left-semi join, never a collected id list. The
    # ledger side here is the UNPRUNED doc_id column — gap detection
    # needs every ledgered id, the same O(ledger-metadata) cost class
    # as the exact md5 ledger read.
    corpus = read_parquet_if_exists(spark, target_path)
    if corpus is None:
        # every doc of every batch so far was filtered/deduped away:
        # an all-empty append leaves no readable parquet, and there is
        # nothing to heal (the ledger delta below is empty too)
        append_bands(
            delta, bands_path,
            partitioned=ledger_partitioned, n_buckets=sb_eff,
        )
        if obs:
            _write_run_ledger(spark, obs, run_ledger_path, batch_id)
        return
    # gap ids stay DISTRIBUTED (round-7 VERDICT #3 / ADVICE): in
    # normal operation the gap is one crash window (bounded), but a
    # worst-case ledger wipe makes it O(corpus) — the old collect +
    # isin() would push an unbounded id list through the driver and
    # into one giant IN-expression. A checkpointed doc_id frame + a
    # left-semi text fetch keeps the heal path collect-free at any gap
    # size; AQE broadcasts the gap side when it is small (the normal
    # case), and falls back to a shuffle join on a genuine wipe.
    gap_ids = (
        corpus.select("doc_id")
        .join(bands.select("doc_id"), "doc_id", "left_anti")
        .join(delta.select("doc_id"), "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    new_rows = delta.select("doc_id", "band", "sig")
    if not gap_ids.isEmpty():
        gap = corpus.join(gap_ids, "doc_id", "left_semi").select(
            "doc_id", "text"
        )
        heal = minhash_band_signatures(
            gap, "doc_id", "text",
            num_hashes=num_hashes, band_size=band_size,
        ).select("doc_id", "band", "sig")
        new_rows = new_rows.unionByName(heal)
        sentinels = gap_ids.join(
            new_rows.select("doc_id"), "doc_id", "left_anti"
        ).select(
            "doc_id",
            F.lit(-1).cast("long").alias("band"),
            F.lit("").alias("sig"),
        )
        new_rows = new_rows.unionByName(sentinels)
    append_bands(
        new_rows, bands_path,
        partitioned=ledger_partitioned, n_buckets=sb_eff,
    )
    if obs:
        _write_run_ledger(spark, obs, run_ledger_path, batch_id)


def _obs_n(obs: dict, key: str) -> int:
    """An observation's count, with a deterministic recount fallback:
    AQE's runtime empty-relation propagation can ELIMINATE a
    CollectMetrics node when a join input turns out empty (which of
    the four survives depends on shuffle-partition config), and an
    eliminated observation's ``get`` raises rather than yielding 0.
    The recount re-executes the same frame (checkpointed inputs where
    the chain is expensive), so the value is identical — the fallback
    only ever fires on the empty-plan corner where the recount is
    near-free anyway."""
    try:
        return obs[key].get["n"]
    except Exception:  # noqa: BLE001 — Py4J wraps the JVM assertion
        return obs["_fallbacks"][key].count()


def _write_run_ledger(spark, obs, run_ledger_path, batch_id) -> None:
    # Observation.get blocks until the observed frame's first
    # action fills it — all four rode jobs that already ran
    # (or recount via _obs_n's documented fallback).
    # Written per-batch with mode("ignore") (first-writer-wins):
    # a crash-replayed trigger re-runs with the corpus/bands
    # appends deduped to no-ops, so its stage counts are zeros —
    # appending would double the batch row and overwriting would
    # replace the true counts with the replay's zeros. "ignore"
    # keeps the original attempt's row and stays idempotent. (A
    # crash DURING the first ledger write can leave an empty
    # partition a replay then skips — a bounded observable gap,
    # never a double count.)
    local_rows_df(
        spark,
        [
            (
                _obs_n(obs, "in"),
                _obs_n(obs, "quality"),
                _obs_n(obs, "exact"),
                _obs_n(obs, "neardup"),
            )
        ],
        "n_in long, n_quality long, n_exact long, n_neardup long",
    ).coalesce(1).write.mode("ignore").parquet(
        f"{run_ledger_path}/batch_id={batch_id}"
    )


def run_neardup_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    bands_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    run_ledger_path: str | None = None,
    num_hashes: int = 8,
    band_size: int = 2,
    compact_files_every: int | None = None,
) -> None:
    """availableNow backlog drain through the near-dup-aware ingest.

    ``compact_files_every``: every N triggers, rewrite the band ledger
    and corpus store to one file per bucket (pure FILE compaction —
    re-banding is separate, ``compact_bands_path`` with a wider
    band_size_to between runs). Appends grow the stores by one file
    per touched bucket per batch; without a cadence a long-running
    stream accumulates O(batches x buckets) small files. Runs AFTER
    the batch's own writes, so a crash mid-compaction is survived by
    the staged-swap writers and replays see a consistent store.
    """

    def _batch(b: DataFrame, bid: int) -> None:
        ingest_corpus_batch_neardup(
            b,
            target_path,
            bands_path,
            run_ledger_path=run_ledger_path,
            batch_id=bid,
            num_hashes=num_hashes,
            band_size=band_size,
        )
        if compact_files_every and (bid + 1) % compact_files_every == 0:
            compact_bands_path(spark, bands_path, band_size, band_size)
            compact_corpus_path(spark, target_path)

    stream = read_docs_stream(spark, source_dir, max_files_per_trigger)
    (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def compact_bands_path(
    spark: SparkSession,
    bands_path: str,
    band_size_from: int = 2,
    band_size_to: int = 4,
) -> None:
    """Compact the persisted band ledger in place to wider bands
    (``similarity_dedup.compact_band_ledger`` — see its docstring for
    the equivalence and collision-semantics contract). Run BETWEEN
    stream runs on a healed ledger, then ingest subsequent batches
    with ``band_size=band_size_to``.

    The rewrite localCheckpoints the compacted rows before the
    overwrite so the read and the write never race on the same files,
    and the overwrite itself is the staged write-then-swap
    (`storage.overwrite_parquet_atomically` — round-8 upgrade: the old
    direct overwrite was delete-then-write, and a crash in the gap
    LOST the ledger; at real scale the swap is the table-pointer flip
    of whatever ACID format hosts it).

    The rewrite also (re)establishes the sb-bucketed layout — this is
    the MIGRATION point for a legacy flat ledger. Called with
    ``band_size_from == band_size_to`` it is a pure FILE compaction
    (re-banding is the identity): the every-N-batches hygiene pass for
    the one-file-per-touched-bucket-per-append growth."""
    from ..operators.bucketed_ledger import compact_bucketed, store_n_buckets
    from ..operators.similarity_dedup import compact_band_ledger

    compact_bucketed(
        spark,
        bands_path,
        SB_COL,
        _sb_of_buckets,
        store_n_buckets(spark, bands_path, SB_COL, BAND_LEDGER_BUCKETS),
        columns=["doc_id", "band", "sig"],
        # checkpoint inside the transform: the re-band reads the same
        # files the staged overwrite will swap out
        transform=lambda rows: compact_band_ledger(
            rows, "doc_id", band_size_from, band_size_to
        ).localCheckpoint(eager=True),
    )


def compact_corpus_path(
    spark: SparkSession,
    target_path: str,
    n_buckets: int = CORPUS_BUCKETS,
) -> None:
    """Rewrite the corpus store with one file per md5 bucket — the
    corpus-side small-file hygiene, and the MIGRATION point for a
    legacy flat corpus. Atomic via the staged write-then-swap (no
    checkpoint needed: the staged write materializes fully from the
    still-present source before the swap touches it)."""
    from ..operators.bucketed_ledger import compact_bucketed

    compact_bucketed(spark, target_path, MB_COL, _mb_of_buckets, n_buckets)


def run_corpus_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Process the document backlog (availableNow) into the corpus
    store: one ingest_corpus_batch per micro-batch."""
    stream = read_docs_stream(spark, source_dir, max_files_per_trigger)
    (
        stream.writeStream.foreachBatch(
            lambda b, _id: ingest_corpus_batch(b, target_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
