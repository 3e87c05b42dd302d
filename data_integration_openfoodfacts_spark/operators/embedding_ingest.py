"""Incremental EMBEDDING near-dup ingest — the crawl-ingestion
pattern (`similarity_dedup.incremental_minhash_dedup`, q128) applied
to the embedding modality: a batch of new vectors is deduped against
the accumulated corpus via a PERSISTED hyperplane-signature ledger,
with O(batch) signature work per ingest and the corpus never
re-embedded, re-hashed, shuffled, or broadcast.

This is SemDeDup's production arrival shape: embeddings come crawl
snapshot by crawl snapshot, and re-clustering the whole corpus per
snapshot (q75's batch shape) is O(corpus) for O(batch) new data. The
ledger holds one (vec_id, band, sig) row per vector per band —
exactly the MinHash band ledger's schema with hyperplane signatures
(sign-bit integers from the SHARED `similarity._band_layout` packing,
so ledger rows are engine-portable integers, no floats).

Layout and join direction follow the round-9 unified rules:

- the ledger persists through `operators.bucketed_ledger` (hive-
  partitioned by ``eb = md5_long(band:sig) % B``, bucket count in the
  store log, loud mismatch refusal, compaction into a new directory);
- the membership probe is `similarity_dedup.collision_ids` — the
  ledger is scanned in place with the BATCH's (band, sig) keys
  broadcast, pruned to the batch's touched buckets at file-listing
  level; a batch vector is dropped when any band collides with the
  corpus or with a lower-id batch vector (the same banded-collision
  contract as the text path; a production pipeline appends an exact
  cosine verify against the corpus vector store before the drop —
  the candidate-bounded `similarity.hyperplane_lsh_pairs` verify is
  that stage).

Tuning: collision probability per band is P[all rows_per_band sign
bits agree] = (1 - theta/pi)^rows_per_band. The default 8x16 (8 bands
of 16 bits) matches q167: at 16 bits the per-band CHANCE-collision
floor is 0.5^16 ~ 1.5e-5, so collisions mean genuinely similar vectors. The earlier 8x8 default
had a 0.5^8 = 1/256 per-band floor and collided essentially everything
by chance at corpus sizes in the hundreds (measured in
plans/embedding_ingest_queries.py) — pass rows_per_band=8 explicitly
only for recall studies, never as a production dedup threshold. See
the measured fixed-vs-logscaled tuning study in SCALING_LLM.json.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.localframe import local_rows_df

from .bucketed_ledger import (
    append_bucketed,
    prune_to_buckets,
    read_bucketed,
    touched_buckets,
)
from .similarity_dedup import collision_ids, md5_long

EB_COL = "eb"
EMB_LEDGER_BUCKETS = 64


def _eb_of_buckets(n_buckets: int) -> Column:
    """Bucket id of a (band, sig) ledger row — the band ledger's
    md5_long(band:sig) convention (streaming/corpus_ingest.py), so
    both signature ledgers share one layout recipe."""
    return F.pmod(
        md5_long(
            F.concat(F.col("band").cast("string"), F.lit(":"), F.col("sig"))
        ),
        F.lit(n_buckets),
    ).cast("int")


def embedding_band_signatures(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_band: int = 16,
    num_bands: int = 8,
) -> DataFrame:
    """(id, band, sig) hyperplane band signatures — one vectorized
    Arrow pass packs all sign bits per vector (the shared
    `similarity._band_layout` machinery), then a narrow per-band
    extraction explodes to ``num_bands`` integer-signature rows.
    O(batch) work, no shuffle."""
    from .similarity import _band_layout, _banded_tags

    sig_col, band_sig, _ = _band_layout(
        dim, rows_per_band, num_bands, vec_col
    )
    return _banded_tags(
        embeddings, id_col, sig_col, band_sig, num_bands, None
    ).select(
        F.col(id_col),
        # long band + string sig = the text band ledger's exact schema,
        # so both signature ledgers share one layout AND one row shape
        F.col("band").cast("long").alias("band"),
        # the text band ledger's sig is a string (comma-joined minima);
        # keep the embedding ledger's packed integer as its canonical
        # string form so collision_ids and the eb bucketing apply
        # verbatim to either ledger
        F.col("sig").cast("string").alias("sig"),
    )


def append_embedding_bands(
    rows: DataFrame, path: str, n_buckets: int = EMB_LEDGER_BUCKETS
) -> None:
    """Append (vec_id, band, sig) rows under their eb buckets —
    checked against the store's bucket count, one file per touched
    bucket."""
    append_bucketed(
        rows,
        path,
        EB_COL,
        _eb_of_buckets,
        n_buckets,
        columns=["vec_id", "band", "sig"],
    )


def incremental_embedding_dedup(
    batch: DataFrame,
    ledger_path: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_band: int = 16,
    num_bands: int = 8,
    n_buckets: int = EMB_LEDGER_BUCKETS,
    append: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Ingest one batch of embeddings against the persisted signature
    ledger: returns ``(survivors, delta)`` where ``survivors`` are the
    batch rows that collide with neither the corpus ledger nor a
    lower-id batch vector, and ``delta`` is their (vec_id, band, sig)
    rows (already appended when ``append=True``).

    Cost class per ingest: O(batch) signature work (one Arrow pass),
    one bounded driver collect of the batch's touched BUCKET ids
    (<= n_buckets ints), a ledger scan PRUNED to those buckets with
    the batch's keys broadcast, and a batch-bounded anti-join. The
    ledger side is never shuffled, sorted, or broadcast. Replays are
    idempotent: a replayed batch's signatures are already ledgered,
    so every vector collides and the delta is empty."""
    spark = batch.sparkSession
    new_bands = embedding_band_signatures(
        batch, dim, id_col, vec_col, rows_per_band, num_bands
    ).localCheckpoint(eager=True)
    ledger, b_eff = read_bucketed(spark, ledger_path)
    if ledger is None:
        probe = local_rows_df(
            spark, [], f"{id_col} long, band long, sig string"
        )
    else:
        ebs = touched_buckets(new_bands, _eb_of_buckets, b_eff)
        probe = prune_to_buckets(ledger, EB_COL, ebs).select(
            id_col, "band", "sig"
        )
    collided = collision_ids(new_bands, probe, id_col).localCheckpoint(
        eager=True
    )
    survivors = batch.join(F.broadcast(collided), id_col, "left_anti")
    delta = new_bands.join(F.broadcast(collided), id_col, "left_anti")
    if append:
        delta = delta.localCheckpoint(eager=True)
        append_embedding_bands(delta, ledger_path, b_eff or n_buckets)
    return survivors, delta
