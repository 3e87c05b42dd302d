"""Incremental shingle-novelty ledger — the tranche-at-a-time form of
q152/q157's marginal-novelty analysis (round-6 VERDICT #1).

The production question ("how much NEW text does the next crawl
snapshot add?") arrives tranche by tranche, and at 100 TB a full-corpus
shingle ``groupBy`` per snapshot (q157's batch shape) is the wrong
plan: O(corpus) reshuffle to score O(tranche) new data. This module
keeps a ledger of (shingle_md5, first_doc) — every shingle the corpus
has ever seen and the doc that introduced it — and scores a new
tranche with O(tranche) shingle work plus ONE streaming pass over the
ledger keys, appending only the tranche's first-occurrences. The exact
analogue of the near-dup band ledger in streaming/corpus_ingest.py.

Join direction is load-bearing at scale (round-7 VERDICT #1): the
membership probe BROADCASTS THE TRANCHE's distinct keys and left-semi
scans the ledger — never the reverse. A plain
``tranche left_anti ledger`` plans BuildRight, i.e. broadcasts (or
shuffles) the O(corpus-shingles) ledger per tranche; the flipped form
keeps the per-tranche cost at one ledger key-column SCAN (no ledger
shuffle, no ledger sort, no ledger broadcast) plus O(tranche)
everything else. The PERSISTED form in
:mod:`operators.novelty_ledger` additionally key-bucket-partitions the
ledger parquet so that scan prunes to the buckets the tranche touches.

Ledger key: ``md5(shingle)`` (full 128-bit hex, 32 bytes fixed) — an
8-gram shingle string averages ~50 variable bytes, so the hashed key
is both smaller and constant-width; collision probability at corpus
scale is ~2^-128-ish, and the reconciliation contract is enforced by
q159's oracle (the SAME batch SQL as q157) rather than assumed.

Equivalence argument (why incremental totals == batch q157): tranches
are processed in ascending doc_id order, so a shingle's GLOBAL first
doc is its within-tranche min doc_id in the FIRST tranche that
contains it — exactly the rows the ledger records. A document's
``n_novel`` (shingles whose global first_doc is this doc) is therefore
"shingle absent from the pre-tranche ledger AND this doc is the
tranche-local min" — what :func:`tranche_novelty_update` computes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.localframe import local_rows_df

from .similarity_dedup import word_shingles

LEDGER_SCHEMA = "shingle_md5 string, first_doc long"


def empty_ledger(spark) -> DataFrame:
    return local_rows_df(spark, [], LEDGER_SCHEMA)


def tranche_novelty_update(
    tranche: DataFrame,
    ledger: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    checkpoint_shingles: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Score ONE ingestion tranche against the accumulated ledger.

    Returns ``(per_doc, new_firsts)``:

    - ``per_doc``: (id_col, n_shingles, n_novel) for every tranche doc
      with >= 1 shingle (docs shorter than ``n`` tokens emit no row —
      q152/q157's convention);
    - ``new_firsts``: (shingle_md5, first_doc) rows to APPEND to the
      ledger — shingles the corpus had never seen, attributed to their
      tranche-local min doc_id.

    Cost class: one O(tranche-shingles) aggregate (map-side
    combinable), one STREAMING SCAN of the ledger's key column with
    the tranche's distinct keys broadcast (left-semi — the ledger is
    never shuffled, sorted, or broadcast), one broadcast anti-join of
    two tranche-bounded frames. Nothing scans corpus text.

    ``checkpoint_shingles``: eagerly localCheckpoint the tranche's
    shingle frame AND the intermediate tranche-bounded frames so
    callers that materialize ``new_firsts`` and ``per_doc`` in
    separate actions pay the shingle pass and the ledger scan once
    each, not once per action.
    """
    sh = doc_shingle_keys(tranche, id_col, text_col, n=n)
    if checkpoint_shingles:
        sh = sh.localCheckpoint(eager=True)
    firsts_t = sh.groupBy("shingle_md5").agg(
        F.min(id_col).alias("first_doc")
    )
    if checkpoint_shingles:
        firsts_t = firsts_t.localCheckpoint(eager=True)
    # membership via broadcast-tranche semi scan (see module
    # docstring), then an anti-join of two TRANCHE-bounded frames —
    # `seen` is a subset of the tranche's keys, so BuildRight here
    # broadcasts a bounded frame, never the ledger
    seen = seen_keys(firsts_t, ledger)
    new_firsts = firsts_t.join(
        F.broadcast(seen), "shingle_md5", "left_anti"
    )
    if checkpoint_shingles:
        new_firsts = new_firsts.localCheckpoint(eager=True)
    return per_doc_novelty(sh, new_firsts, id_col), new_firsts


def doc_shingle_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """(id_col, shingle_md5) — the distinct hashed shingle keys the
    ledger is keyed on."""
    return word_shingles(docs, id_col, text_col, n=n).select(
        F.col(id_col), F.md5("shingle").alias("shingle_md5")
    )


def seen_keys(tranche_keys: DataFrame, ledger: DataFrame) -> DataFrame:
    """Ledger membership probe with the SCALE-SAFE join direction:
    broadcast the tranche's (bounded) distinct ``shingle_md5`` keys,
    left-semi scan the ledger — one pass over the ledger key column,
    no ledger shuffle/sort/broadcast. Returns the LEDGER key rows that
    match a tranche key — unique iff the ledger's keys are unique
    (true for a real first-occurrences ledger; a caller passing a
    multi-tranche key frame, like q159's batched rounds, gets bounded
    duplicates that anti-join semantics ignore)."""
    return ledger.select("shingle_md5").join(
        F.broadcast(tranche_keys.select("shingle_md5")),
        "shingle_md5",
        "left_semi",
    )


def per_doc_novelty(
    sh: DataFrame, new_firsts: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, n_shingles, n_novel) from the tranche's shingle frame
    and its new-firsts: a doc's n_novel is exactly the number of
    new_firsts rows ATTRIBUTED to it (first_doc == doc) — counted
    straight off the tiny new_firsts frame instead of joining it back
    through the full shingle list (one small agg replaces an
    O(tranche-shingles) join)."""
    novel_counts = new_firsts.groupBy(
        F.col("first_doc").alias(id_col)
    ).agg(F.count(F.lit(1)).alias("__novel"))
    return (
        sh.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .join(novel_counts, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce("__novel", F.lit(0)).cast("long").alias("n_novel"),
        )
    )
