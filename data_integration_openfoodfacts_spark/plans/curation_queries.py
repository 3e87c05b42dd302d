"""Corpus-curation diagnostics: leakage-guarded splits and marginal
novelty — the two train/eval hygiene operators a production
data-curation pipeline runs AFTER dedup and BEFORE shipping shards.

Reference-parity note: the reference (Sevlac/data-integration-
openfoodfacts) has no train/eval machinery — these extend the engine
along the LLM-training-data axis the build brief calls for, like
plans/llm_queries.py's dedup/quality families they compose with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import connected_components
from ..operators.similarity_dedup import (
    MINHASH_P,
    md5_long,
    minhash_band_signatures,
    minhash_params,
    word_shingles,
)
from ..sources.parquet_source import load_table
from .llm_queries import _SHINGLE_CTE


def q151_leakage_guarded_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup-cluster-aware train/heldout split: every near-duplicate
    CLUSTER lands wholly on one side, so the heldout set cannot leak
    paraphrases of training documents (the GPT-3 train-test overlap
    problem, Brown et al. 2020 App. C; Dodge et al. 2021 found the
    same leak in C4). A plain per-document hash split CANNOT give this
    guarantee — two near-identical docs hash independently.

    Composition of tested operators, all scale-shaped:
    - edges: LSH bucket STARS — each member of a (band, sig) bucket
      connects to the bucket's min doc_id (one window shuffle on the
      band table). Connectivity is identical to q19's all-intra-bucket
      pair graph (a bucket's pairwise clique and its star have the
      same components), but the edge count is linear in bucket size,
      not quadratic, and the pair-side groupBy + self-join disappear —
      this is also the 100 TB posture, since one hot bucket can't
      explode into m^2/2 edges (round 12; value-equal A/B measured
      5.5s -> 4.7s at sf0.1 warm);
    - clusters: large-star/small-star connected components (O(log n)
      rounds); singleton docs are their own cluster;
    - assignment: md5 of the CLUSTER id -> bucket 0-99, < 90 = train.
      Hashing the cluster id (its min doc_id) moves the whole cluster
      together and is layout/engine independent.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    bands = minhash_band_signatures(
        docs, "doc_id", "text", n=3, num_hashes=8, band_size=2
    )
    w = Window.partitionBy("band", "sig")
    star = (
        bands.withColumn("root", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("root"))
        .select(F.col("root").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    cc = connected_components(star, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    full = (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .withColumn("component", F.coalesce("component", F.col("doc_id")))
    )
    bucket = (
        md5_long(F.concat(F.lit("leak"), F.col("component").cast("string")))
        % 100
    )
    return full.select(
        "doc_id",
        "component",
        F.when(bucket < 90, F.lit("train"))
        .otherwise(F.lit("heldout"))
        .alias("split"),
    )


def _q151_oracle() -> str:
    # mirrors _q19_oracle's minhash banding, then walks components
    # recursively and hashes the component id with md5_long's SQL twin
    a_c, b_c = minhash_params(8)
    min_cols = ",\n         ".join(
        f"MIN(({a_c[j]} * h0 + {b_c[j]}) % {MINHASH_P}) AS m{j}"
        for j in range(8)
    )
    band_rows = ", ".join(
        f"({k}, m{2 * k} || ',' || m{2 * k + 1})" for k in range(4)
    )
    return f"""
WITH RECURSIVE {_SHINGLE_CTE},
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
           % {MINHASH_P} AS h0
  FROM sh
),
mins AS (
  SELECT doc_id,
         {min_cols}
  FROM hashed GROUP BY doc_id
),
bands AS (
  SELECT doc_id, CAST(t.band AS BIGINT) AS band, t.sig
  FROM mins, LATERAL (VALUES {band_rows}) t(band, sig)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.sig = b.sig
             AND a.doc_id < b.doc_id
),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
walk(n, m) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM sym)
  UNION
  SELECT e.s, w.m FROM sym e JOIN walk w ON e.d = w.n
),
comp AS (SELECT n AS doc_id, MIN(m) AS component FROM walk GROUP BY n),
labeled AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, component,
       CASE WHEN CAST(concat('0x', substring(
                md5('leak' || CAST(component AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 < 90
            THEN 'train' ELSE 'heldout' END AS split
FROM labeled
"""


Q151_ORACLE = _q151_oracle()


def q152_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 8-gram NOVELTY: the fraction of a document's
    distinct 8-gram shingles first seen (min doc_id in corpus order)
    in this document. Novelty ~1 = fresh content; ~0 = the document is
    assembled from text the corpus already has (Lee et al. 2022 use
    this curve to show how little marginal data a duplicated crawl
    adds). Curation pipelines rank snapshot ingests by it.

    Shape: one shingle-level agg (min doc_id per shingle — map-side
    combinable), one join back to the per-doc shingle list, one
    per-doc agg. No window, no all-pairs; shingle cardinality is the
    working set, exactly like the exact-dedup family. Docs shorter
    than 8 tokens have no shingles and no row (same convention as the
    shingle-based dedup queries).
    """
    docs = load_table(spark, sf_dir, "documents")
    # repartition("shingle"): sh feeds TWO consumers (the firsts agg
    # and the join probe) — this single exchange is planned once and
    # ReuseExchange-shared by both, so the explode+md5 shingle pass
    # runs ONCE, and neither the groupBy(shingle) nor the join needs a
    # further shuffle of the shingle frame (round 9: word_shingles
    # lost its redundant global distinct, whose exchange had been
    # providing this sharing by accident).
    sh = word_shingles(docs, "doc_id", "text", n=8).repartition("shingle")
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            # exact-int division: both engines divide the same two
            # integers in double — deterministic, hash-safe
            (F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")).alias(
                "novelty"
            ),
        )
    )


_SHINGLE8_CTE = """
toks8 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh8 AS (
  SELECT DISTINCT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
         t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS shingle
  FROM toks8, LATERAL (SELECT UNNEST(range(1, len(t) - 6)) AS i) u
  WHERE len(t) >= 8
)
"""

Q152_ORACLE = f"""
WITH {_SHINGLE8_CTE},
firsts AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh8 GROUP BY shingle)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM sh8 s JOIN firsts f USING (shingle)
GROUP BY s.doc_id
"""


def q153_epoch_upsampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aware source upsampling: materialize each document
    ``r``-times where ``r`` is its source's (possibly fractional)
    repeat factor — the LLaMA/GPT-3 data-recipe step ("Wikipedia x2.4,
    CommonCrawl x0.67") that turns mixture WEIGHTS into an actual
    training stream. floor(r) whole copies, plus one more iff the
    document's md5 draw lands under frac(r); r < 1 degenerates to
    Bernoulli downsampling. All integer-milli arithmetic — no float
    rates — so the copy count is engine- and layout-exact.

    Rates are derived (not configured) for the test surface:
    r_milli = 250 + md5('rate' || source) % 2251, i.e. r in
    [0.25, 2.5] — swapping in a real broadcast rate table keeps the
    identical shape. Narrow plan: per-row rate + draw + ``explode``
    of a copy-index sequence; no shuffle at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    src = F.coalesce(F.col("source"), F.lit(""))
    r_milli = (md5_long(F.concat(F.lit("rate"), src)) % 2251) + 250
    draw = md5_long(F.concat(F.lit("epoch"), F.col("doc_id").cast("string"))) % 1000
    copies = (r_milli / F.lit(1000)).cast("long") + (
        draw < (r_milli % 1000)
    ).cast("long")
    return (
        docs.select("doc_id", "source", copies.alias("n_copies"))
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_copies") - 1)
            ).alias("copy_idx"),
        )
    )


Q153_ORACLE = """
WITH rated AS (
  SELECT doc_id, source,
         (CAST(concat('0x', substring(
             md5('rate' || COALESCE(source, '')), 1, 15)) AS BIGINT)
           % 2251) + 250 AS r_milli,
         CAST(concat('0x', substring(
             md5('epoch' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 1000 AS draw
  FROM documents
),
counted AS (
  SELECT doc_id, source,
         r_milli // 1000
           + CASE WHEN draw < r_milli % 1000 THEN 1 ELSE 0 END AS n_copies
  FROM rated
)
SELECT doc_id, source, CAST(u.copy_idx AS BIGINT) AS copy_idx
FROM counted, UNNEST(range(n_copies)) u(copy_idx)
WHERE n_copies > 0
"""


def q154_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier scores: squared Mahalanobis distance to
    the corpus mean under a DIAGONAL covariance — the cheap global
    screen for corrupted embeddings / off-distribution documents that
    runs before any clustering (a full covariance needs q127's Gram;
    the diagonal catches axis-aligned blowups at O(n·d)).

    Two narrow passes over a broadcast 64-row stats table: (1) per-
    dimension mean/variance from one decimal-exact agg (n, sum, sum of
    squares — order-independent); (2) per-document sum of
    (x_i - mu_i)^2 / var_i, each term decimal-cast so the re-sum is
    order-independent too. Constant dimensions (var = 0) are excluded
    from the score in both engines.
    """
    from ..functions.numeric import dec18
    from ..functions.vectors import dim_index_frame, elem_double
    from ..operators.skew import spread_partitions

    emb = spread_partitions(
        load_table(spark, sf_dir, "embeddings"), "vec_id"
    ).select("vec_id", "embedding")
    idx = dim_index_frame(spark, 64)
    dims = emb.crossJoin(F.broadcast(idx)).select(
        "vec_id", "i", elem_double("embedding", "i").alias("x")
    )
    stats = (
        dims.groupBy("i")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec18(F.col("x"))).alias("s"),
            F.sum(dec18(F.col("x") * F.col("x"))).alias("s2"),
        )
        .select(
            "i",
            (F.col("s").cast("double") / F.col("n")).alias("mu"),
            (
                F.col("s2").cast("double") / F.col("n")
                - (F.col("s").cast("double") / F.col("n"))
                * (F.col("s").cast("double") / F.col("n"))
            ).alias("var"),
        )
        .filter(F.col("var") > 0)
    )
    term = (
        (F.col("x") - F.col("mu"))
        * (F.col("x") - F.col("mu"))
        / F.col("var")
    )
    return (
        dims.join(F.broadcast(stats), "i")
        .groupBy("vec_id")
        .agg(F.sum(dec18(term)).cast("double").alias("maha2"))
    )


Q154_ORACLE = """
WITH dims AS (
  SELECT e.vec_id, CAST(t.i AS BIGINT) AS i,
         CAST(e.embedding[t.i + 1] AS DOUBLE) AS x
  FROM embeddings e CROSS JOIN (SELECT range AS i FROM range(0, 64)) t
),
stats AS (
  SELECT i,
         CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu,
         CAST(SUM(CAST(x * x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
           - (CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
             * (CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
           AS var
  FROM dims GROUP BY i
)
SELECT d.vec_id,
       CAST(SUM(CAST((d.x - s.mu) * (d.x - s.mu) / s.var
                     AS DECIMAL(18,6))) AS DOUBLE) AS maha2
FROM dims d JOIN stats s ON d.i = s.i AND s.var > 0
GROUP BY d.vec_id
"""


def q155_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — BPE-ish tokens per whitespace
    word and bytes per token, per declared language (the mT5/XLM-R
    tokenizer-fit diagnostic: high fertility = the tokenizer fragments
    that language, the signal that drives vocabulary rebalancing
    before a multilingual run).

    One narrow per-row pass (the same token-count expressions q21
    verified) + one tiny (lang) agg; integer sums stay BIGINT in both
    engines, ratios divide exact ints in double. try_divide: an
    all-empty language partition would otherwise abort under ANSI.
    """
    from ..functions.text_analysis import (
        bpe_ish_token_count,
        whitespace_token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        whitespace_token_count("text").alias("w"),
        bpe_ish_token_count("text").alias("b"),
        F.octet_length("text").cast("long").alias("nb"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("ws_tokens"),
            F.sum("b").alias("bpe_tokens"),
            F.sum("nb").alias("n_bytes"),
        )
        .select(
            "lang",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            "n_bytes",
            F.try_divide(
                F.col("bpe_tokens").cast("double"),
                F.col("ws_tokens").cast("double"),
            ).alias("fertility"),
            F.try_divide(
                F.col("n_bytes").cast("double"),
                F.col("bpe_tokens").cast("double"),
            ).alias("bytes_per_token"),
        )
    )


Q155_ORACLE = r"""
WITH t AS (
  SELECT lang,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(
             text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS b,
         CAST(octet_length(encode(text)) AS BIGINT) AS nb
  FROM documents
),
agg AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS ws_tokens,
         CAST(SUM(b) AS BIGINT) AS bpe_tokens,
         CAST(SUM(nb) AS BIGINT) AS n_bytes
  FROM t GROUP BY lang
)
SELECT lang, n_docs, ws_tokens, bpe_tokens, n_bytes,
       CAST(bpe_tokens AS DOUBLE) / NULLIF(CAST(ws_tokens AS DOUBLE), 0.0)
         AS fertility,
       CAST(n_bytes AS DOUBLE) / NULLIF(CAST(bpe_tokens AS DOUBLE), 0.0)
         AS bytes_per_token
FROM agg
"""


def q156_corpus_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE corpus dataset-card rollup: document/byte volume,
    language diversity, exact-duplicate rate, and quality-classifier
    keep rate — the one-table overview a dataset card's "composition"
    section publishes, and the first report a curation run produces
    per ingested source.

    Shape (honestly): the classifier pass (broadcast weight join +
    one doc agg) joins back to a second documents scan, and the two
    COUNT(DISTINCT) columns (lang, text_md5) make Spark's Expand
    multi-distinct rewrite feed the one (source) agg. LEFT join +
    coalesce(keep, false): a doc the classifier emits no row for
    (NULL/empty text tokenizes to nothing) must still COUNT toward the
    source's volume — an inner join would silently shrink the card.
    Counts stay BIGINT in both engines; rates divide exact ints in
    double."""
    from ..operators.quality_classifier import (
        hashed_linear_score,
        synthetic_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = hashed_linear_score(
        docs, synthetic_weights(spark, 4096), num_buckets=4096
    ).select("doc_id", "keep")
    base = (
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.octet_length("text").cast("long").alias("nb"),
            F.md5("text").alias("text_md5"),
        )
        .join(scored, "doc_id", "left")
        .withColumn("keep", F.coalesce("keep", F.lit(False)))
    )
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nb").alias("n_bytes"),
            F.countDistinct("lang").alias("n_langs"),
            F.countDistinct("text_md5").alias("n_unique_texts"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_bytes",
            "n_langs",
            "n_unique_texts",
            "n_kept",
            (
                F.col("n_kept").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("keep_rate"),
            (
                (F.col("n_docs") - F.col("n_unique_texts")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("exact_dup_rate"),
        )
    )


Q156_ORACLE = """
WITH toksq AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
featsq AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) % 4096
           AS bucket
  FROM toksq
),
wq AS (
  SELECT i AS bucket,
         CAST(concat('0x', substring(md5('qw' || i), 1, 15)) AS BIGINT)
           % 2001 - 1000 AS w_milli
  FROM range(4096) t(i)
),
aggq AS (
  SELECT f.doc_id,
         CAST(SUM(COALESCE(w.w_milli, 0)) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM featsq f LEFT JOIN wq w USING (bucket)
  GROUP BY 1
),
kept AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-(CAST(s AS DOUBLE)
                            / (CAST(n_tokens AS DOUBLE) * 1000.0)))) >= 0.5
           AS keep
  FROM aggq
),
base AS (
  SELECT d.doc_id, d.source, d.lang,
         CAST(octet_length(encode(d.text)) AS BIGINT) AS nb,
         md5(d.text) AS text_md5,
         COALESCE(k.keep, FALSE) AS keep
  FROM documents d LEFT JOIN kept k USING (doc_id)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nb) AS BIGINT) AS n_bytes,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT text_md5) AS BIGINT) AS n_unique_texts,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS keep_rate,
       CAST(COUNT(*) - COUNT(DISTINCT text_md5) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS exact_dup_rate
FROM base
GROUP BY source
"""


def q157_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty CURVE by ingestion tranche: split the corpus
    into 10 doc_id-order deciles and report, per tranche, how many of
    its 8-gram shingles are first occurrences — the Lee et al. 2022
    plot showing later crawl snapshots contributing progressively
    less new text (the go/no-go chart for ingesting another dump).

    Same working set as q152 (shingle-level min-doc agg); the tranche
    is pure integer arithmetic on doc_id against a broadcast 1-row
    max, so both engines bucket identically. Ratio = BIGINT-sum /
    BIGINT-sum in double — deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    # shared-exchange shingle frame — q152's comment applies verbatim
    sh = word_shingles(docs, "doc_id", "text", n=8).repartition("shingle")
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    hi = docs.agg(F.max("doc_id").alias("__max_id"))
    per_doc = (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(hi))
        .groupBy(
            # explicit floor: Spark's double->long cast truncates but
            # DuckDB's CAST ROUNDS — FLOOR on both sides is the only
            # portable bucketing of a double ratio
            F.floor(F.col("doc_id") * 10 / (F.col("__max_id") + 1))
            .cast("long")
            .alias("tranche")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sh").alias("n_shingles"),
            F.sum("n_novel").alias("n_novel"),
        )
        .select(
            "tranche",
            "n_docs",
            "n_shingles",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty_rate"),
        )
    )


Q157_ORACLE = f"""
WITH {_SHINGLE8_CTE},
firsts AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh8 GROUP BY shingle),
per_doc AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_sh,
         CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
           AS BIGINT) AS n_novel
  FROM sh8 s JOIN firsts f USING (shingle)
  GROUP BY s.doc_id
),
hi AS (SELECT MAX(doc_id) AS max_id FROM documents)
SELECT CAST(FLOOR(p.doc_id * 10.0 / (h.max_id + 1)) AS BIGINT) AS tranche,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
       CAST(SUM(n_novel) AS BIGINT) AS n_novel,
       CAST(SUM(n_novel) AS DOUBLE) / CAST(SUM(n_sh) AS DOUBLE)
         AS novelty_rate
FROM per_doc p CROSS JOIN hi h
GROUP BY 1
"""


CURATION_QUERIES = {
    "q151_leakage_guarded_split": q151_leakage_guarded_split,
    "q152_ngram_novelty": q152_ngram_novelty,
    "q153_epoch_upsampling": q153_epoch_upsampling,
    "q154_embedding_outliers": q154_embedding_outliers,
    "q155_tokenizer_fertility": q155_tokenizer_fertility,
    "q156_corpus_source_profile": q156_corpus_source_profile,
    "q157_novelty_curve": q157_novelty_curve,
}

CURATION_ORACLES = {
    "q151_leakage_guarded_split": Q151_ORACLE,
    "q152_ngram_novelty": Q152_ORACLE,
    "q153_epoch_upsampling": Q153_ORACLE,
    "q154_embedding_outliers": Q154_ORACLE,
    "q155_tokenizer_fertility": Q155_ORACLE,
    "q156_corpus_source_profile": Q156_ORACLE,
    "q157_novelty_curve": Q157_ORACLE,
}
