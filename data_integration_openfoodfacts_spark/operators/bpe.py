"""Distributed BPE merge learning — tokenizer FITTING, the stage the
rest of the tokenize/encode surface (functions/tokenize.py) consumes a
vocabulary from.

Textbook byte-pair encoding (Sennrich et al. 2016), Spark-first:

1. one corpus pass builds the WORD-FREQUENCY table (classic BPE's
   working set — vocabulary-sized, not corpus-sized);
2. each merge round is ONE distributed aggregation over that table
   (adjacent-symbol pair counts weighted by word frequency, map-side
   combined) + a driver-side argmax of a single row + a NARROW
   string-replace applying the merge.

Symbol representation — load-bearing for correctness: every symbol is
WRAPPED as ``\\x1d symbol \\x1f`` (group-separator open, unit-separator
close; neither occurs in natural text). A merge of (left, right) is the
plain replace of ``\\x1d left \\x1f \\x1d right \\x1f`` with
``\\x1d leftright \\x1f``: the pattern can only match two WHOLE adjacent
symbols (a bare separator scheme lets ``b<sep>c`` match the tail of
symbol "ab" followed by "c" — merging a pair that was never counted),
and adjacent disjoint occurrences share no characters, so left-to-right
non-overlapping replace merges them all (``abab -> [ab][ab]``, while
``aaa -> [aa][a]`` exactly like reference BPE's greedy scan).

Scale posture: the corpus is touched exactly once (step 1); every
round after that costs O(|vocab|), and |vocab| is millions of rows at
100 TB, not billions. The driver receives one (pair, count) row per
round — the same bounded-collect contract as clustering.
Production vocabularies (30k+ merges) batch the application step
(apply the top-B non-conflicting merges per round) — the round
structure here is the unbatched reference semantics the q137 oracle
can replay exactly (unrolled rounds, q104-style).

Cross-engine exactness: counts are exact integer sums; the argmax
tiebreak is (count DESC, pair-string ASC) under binary collation; the
merge application is plain (non-regex) left-to-right replace, which
Spark's ``replace`` and DuckDB's ``replace`` implement identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.localframe import local_rows_df

#: opens a symbol ("\x1dh\x1f\x1de\x1f..." for word "he")
OPEN = "\x1d"
#: closes a symbol
CLOSE = "\x1f"
#: joins the two symbols of a candidate pair key
PJ = "\x1e"


#: the three control chars the wrapped-symbol scheme reserves; they
#: are stripped from input text (here AND in the oracle SQL twins) so
#: corpus bytes can never forge a symbol boundary or break the
#: driver-side ``pair.split(PJ)`` (round-5 advisor finding).
_RESERVED = OPEN + PJ + CLOSE


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over whitespace-split words — BPE's working set."""
    clean = F.translate(F.col(text_col), _RESERVED, "")
    return (
        docs.select(F.explode(F.split(clean, " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _wrap_chars(col: F.Column) -> F.Column:
    """word -> concatenated wrapped single-char symbols."""
    return F.array_join(
        F.transform(
            F.split(col, ""),
            lambda c: F.concat(F.lit(OPEN), c, F.lit(CLOSE)),
        ),
        "",
    )


def _symbols(seq_col: str) -> F.Column:
    """wrapped sequence column name -> array of symbols (strip the
    outer markers, split on the close+open boundary)."""
    inner = F.expr(f"substring({seq_col}, 2, length({seq_col}) - 2)")
    return F.split(inner, CLOSE + OPEN)


# (applicationId, dataset_key, n_merges, text_col) -> merge list.
# Same invalidation reasoning as clustering._CENTERS_MEMO: the fit is
# deterministic for fixed input, tiny (n rows), and consumed by both
# the merge-table query (q137) and the encoder (q138) — refitting per
# consumer would re-run the rounds for identical output.
_MERGES_MEMO: dict[tuple, list] = {}


def learn_bpe_merges_cached(
    docs: DataFrame,
    dataset_key: str,
    n_merges: int = 3,
    text_col: str = "text",
) -> list[tuple[int, str, str, int]]:
    spark = docs.sparkSession
    key = (
        spark.sparkContext.applicationId, dataset_key, n_merges, text_col,
    )
    if key not in _MERGES_MEMO:
        _MERGES_MEMO[key] = [
            (r["rank"], r["left"], r["right"], r["pair_count"])
            for r in learn_bpe_merges(docs, n_merges, text_col).collect()
        ]
    return _MERGES_MEMO[key]


def apply_bpe_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode the corpus with a learned merge table: every word splits
    to wrapped characters, the merges apply in rank order (plain
    left-to-right replace of whole adjacent wrapped symbols — the same
    rule the fit applied), and the doc's token stream is the flattened
    per-word symbol arrays. Entirely narrow expressions — zero
    shuffle; at 100 TB this is scan-bound like tokenize.py.

    Returns (id_col, tokens array<string>).
    """

    def encode_word(w):
        s = _wrap_chars(w)
        for left, right in merges:
            s = F.replace(
                s,
                F.lit(OPEN + left + CLOSE + OPEN + right + CLOSE),
                F.lit(OPEN + left + right + CLOSE),
            )
        # strip the outer markers, split on the symbol boundary
        return F.split(
            F.regexp_replace(s, f"^{OPEN}|{CLOSE}$", ""), CLOSE + OPEN
        )

    clean = F.translate(F.col(text_col), _RESERVED, "")
    toks = F.filter(
        F.flatten(F.transform(F.split(clean, " "), encode_word)),
        lambda t: t != "",
    )
    return docs.select(F.col(id_col), toks.alias("tokens"))


def learn_bpe_merges(
    docs: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; returns a
    DataFrame (rank, left, right, pair_count) — the merge table a
    tokenizer ships. rank is 1-based merge order."""
    import gc

    spark = docs.sparkSession
    seqs = (
        word_freq_table(docs, text_col)
        .select(_wrap_chars(F.col("word")).alias("seq"), "cnt")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        arr = _symbols("seq")
        pairs = (
            seqs.filter(F.size(arr) >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size(arr) - 1),
                        lambda i: F.concat(
                            F.element_at(arr, i),
                            F.lit(PJ),
                            F.element_at(arr, i + 1),
                        ),
                    )
                ).alias("pair"),
                "cnt",
            )
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right = best[0]["pair"].split(PJ)
        merges.append((rank, left, right, best[0]["c"]))
        # Re-checkpoint per round (flat lineage); DROP the previous
        # round's handle so its checkpoint blocks become collectable —
        # localCheckpoint storage frees when the referencing RDD is
        # GC'd (same mechanism bench.py documents), and at production
        # merge counts thousands of pinned vocab copies would otherwise
        # accumulate in executor storage.
        new_seqs = seqs.select(
            F.replace(
                "seq",
                F.lit(OPEN + left + CLOSE + OPEN + right + CLOSE),
                F.lit(OPEN + left + right + CLOSE),
            ).alias("seq"),
            "cnt",
        ).localCheckpoint(eager=True)
        seqs = new_seqs
        if rank % 16 == 0:
            gc.collect()
            spark.sparkContext._jvm.System.gc()
    return local_rows_df(
        spark, merges,
        "rank long, left string, right string, pair_count long",
    )
