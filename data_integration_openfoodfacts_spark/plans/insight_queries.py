"""Exploratory / insight analytics: skyline (Pareto frontier),
single-pass data profiling, grouped z-score outliers, cohort
retention.

These extend the engine past the reference's fixed report queries
(`requetes_analytiques.sql`) toward the ad-hoc analyst surface a
warehouse engine is expected to serve — each shape chosen because a
naive implementation is quadratic or multi-scan and the Spark plan here
is not.

Determinism: doubles are only compared/derived through expressions with
identical association in Spark and DuckDB; sums are decimal-exact;
counts are BIGINT-cast in the oracles (DuckDB HUGEINT pitfall).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dec18 as _dec
from ..sources.parquet_source import load_events, load_table


def q117_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier of parts: minimize p_retailprice,
    maximize p_size. A part is dominated if another part is no more
    expensive AND no smaller, with at least one strict.

    The textbook formulation is a quadratic NOT-EXISTS self-join (the
    oracle could run it, but at 2e4 parts that is 4e8 comparisons — at
    warehouse scale it's dead). This plan is the O(n log n) sweep
    re-expressed relationally:

      1. hash-agg parts to one row per distinct price with the group's
         max size (n -> |distinct prices|, a huge reduction);
      2. running max of size over strictly-cheaper price groups (one
         window over the SMALL group table — single-partition sort is
         deliberate and cheap at that cardinality);
      3. broadcast-join the per-price cummax back and keep parts whose
         size (a) equals their price group's max (no same-price
         dominator) and (b) exceeds every cheaper group's max (no
         cheaper dominator).

    Output is the full frontier with unique p_partkey rows."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    grp = part.groupBy(F.col("p_retailprice").alias("g_price")).agg(
        F.max("p_size").alias("g_max_size")
    )
    w = Window.orderBy("g_price").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sweep = grp.select(
        "g_price",
        "g_max_size",
        F.max("g_max_size").over(w).alias("cheaper_max_size"),
    )
    return (
        part.join(
            F.broadcast(sweep), F.col("p_retailprice") == F.col("g_price")
        )
        .filter(
            (F.col("p_size") == F.col("g_max_size"))
            & (
                F.col("cheaper_max_size").isNull()
                | (F.col("p_size") > F.col("cheaper_max_size"))
            )
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


Q117_ORACLE = """
WITH grp AS (
  SELECT p_retailprice AS g_price, MAX(p_size) AS g_max_size
  FROM part GROUP BY 1
),
sweep AS (
  SELECT g_price, g_max_size,
         MAX(g_max_size) OVER (ORDER BY g_price
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS cheaper_max_size
  FROM grp
)
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
JOIN sweep s ON p.p_retailprice = s.g_price
WHERE p.p_size = s.g_max_size
  AND (s.cheaper_max_size IS NULL OR p.p_size > s.cheaper_max_size)
"""


#: Columns profiled by q118, with their kind ('num' or 'str').
_PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_totalprice", "num"),
    ("o_orderstatus", "str"),
    ("o_orderpriority", "str"),
]


def q118_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data profiling of the orders table (the
    Deequ/dbt-profiler shape): per column — null count, approx-free
    distinct count, and min/max (numeric and string tracked in typed
    columns so no cross-engine string formatting of doubles).

    Scale: ONE wide aggregate computes every per-column metric except
    distinct counts in a single scan; the distinct counts are
    count_distinct in the same agg (Spark expands multi-distinct via
    `expand`, still one pass over the scan). Row output is tiny
    (|columns|), produced by a stack() unpivot of the 1-row agg.
    Implementation: :func:`operators.profiling.profile_table`."""
    from ..operators.profiling import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(orders, [c for c, _ in _PROFILE_COLS])


Q118_ORACLE = "\nUNION ALL\n".join(
    (
        f"SELECT '{col}' AS \"column\", "
        f"CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_nulls, "
        f"CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct, "
        + (
            f"CAST(MIN({col}) AS DOUBLE) AS min_num, "
            f"CAST(MAX({col}) AS DOUBLE) AS max_num, "
            "CAST(NULL AS VARCHAR) AS min_str, "
            "CAST(NULL AS VARCHAR) AS max_str"
            if kind == "num"
            else "CAST(NULL AS DOUBLE) AS min_num, "
            "CAST(NULL AS DOUBLE) AS max_num, "
            f"MIN({col}) AS min_str, MAX({col}) AS max_str"
        )
        + " FROM orders"
    )
    for col, kind in _PROFILE_COLS
)


def q119_event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped z-score outlier detection over events: per event_type,
    flag events whose value sits more than 3 standard deviations from
    the type mean.

    NOT stddev()/avg() built-ins: their float accumulation order is
    engine- and partition-dependent. The sufficient statistics
    (n, sum, sum-of-squares) are decimal-exact sums; mean/std/z are then
    ONE fixed IEEE expression tree evaluated identically by both
    engines on identical inputs.

    Scale: one hash agg (tiny output: |event types|), broadcast join
    back, narrow filter. Single scan of events."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    stats = ev.groupBy(F.col("event_type").alias("g_type")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(_dec("value")).cast("double").alias("s"),
        F.sum(_dec(F.col("value") * F.col("value")))
        .cast("double")
        .alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    var = F.col("ss") / F.col("n") - mean * mean
    # var can round negative for a constant-valued group; guard with a
    # NULL (row filtered) instead of sqrt(<0) — Spark would emit NaN
    # but DuckDB SQRT raises, so the guard keeps both engines identical.
    z = F.when(var > 0, (F.col("value") - mean) / F.sqrt(var))
    return (
        ev.join(F.broadcast(stats), F.col("event_type") == F.col("g_type"))
        .filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", "value", z.alias("zscore"))
    )


Q119_ORACLE = """
WITH stats AS (
  SELECT event_type AS g_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS ss
  FROM events
  WHERE value IS NOT NULL
  GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN ss / n - (s / n) * (s / n) > 0
            THEN (e.value - s / n) / SQRT(ss / n - (s / n) * (s / n))
       END AS zscore
FROM events e
JOIN stats ON e.event_type = stats.g_type
WHERE e.value IS NOT NULL
  AND ABS(CASE WHEN ss / n - (s / n) * (s / n) > 0
               THEN (e.value - s / n) / SQRT(ss / n - (s / n) * (s / n))
          END) > 3.0
"""


def q120_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over events: users are cohorted by the
    DAY of their first event; for each (cohort day, day offset) count
    the distinct users active that many days later — the standard
    product-analytics retention triangle (daily because the testdata
    event stream spans ~one month).

    Day index is integer days-since-epoch — pure integer calendar
    arithmetic, engine-identical; never float date math.

    Scale: first-event day is one (user_id) hash agg; the activity
    join is user_id-keyed (co-partitions with the agg); the final
    count-distinct agg is keyed by the small (cohort, offset) pair but
    counts users exactly."""
    ev = load_events(spark, sf_dir).select("user_id", "ts")
    didx = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    acts = ev.select("user_id", didx.alias("act_didx")).distinct()
    cohort = acts.groupBy("user_id").agg(
        F.min("act_didx").alias("cohort_didx")
    )
    return (
        acts.join(cohort, "user_id")
        .groupBy(
            F.col("cohort_didx").alias("cohort_day_idx"),
            (F.col("act_didx") - F.col("cohort_didx")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


Q120_ORACLE = """
WITH acts AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS INT) AS act_didx
  FROM events
),
cohort AS (
  SELECT user_id, MIN(act_didx) AS cohort_didx FROM acts GROUP BY 1
)
SELECT c.cohort_didx AS cohort_day_idx,
       a.act_didx - c.cohort_didx AS day_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM acts a
JOIN cohort c ON a.user_id = c.user_id
GROUP BY 1, 2
"""


def q121_ab_test_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample A/B z-test per event_type: users are deterministically
    bucketed into variants by md5 (the same engine-neutral hash the
    split/sampling operators use — reproducible in any engine, no RNG
    state), and the variant value means are compared with a z-statistic.

    Determinism: per-variant (n, sum, sum-of-squares) are decimal-exact
    conditional sums in ONE aggregation; mean/variance/z are a fixed
    IEEE expression tree identical in both engines.

    Scale: single scan, one hash agg keyed by event_type (tiny output);
    the variant hash is a narrow per-row expression."""
    from ..operators.similarity_dedup import md5_long

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    variant = md5_long(F.col("user_id").cast("string")) % 2
    ev = ev.withColumn("variant", variant)
    is_a = F.col("variant") == 0
    zero = F.lit(0).cast("decimal(18,6)")

    def _n(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("double")

    def _s(cond):
        return F.sum(F.when(cond, _dec("value")).otherwise(zero)).cast(
            "double"
        )

    def _ss(cond):
        return F.sum(
            F.when(cond, _dec(F.col("value") * F.col("value"))).otherwise(
                zero
            )
        ).cast("double")

    stats = ev.groupBy("event_type").agg(
        _n(is_a).alias("n_a"),
        _s(is_a).alias("s_a"),
        _ss(is_a).alias("ss_a"),
        _n(~is_a).alias("n_b"),
        _s(~is_a).alias("s_b"),
        _ss(~is_a).alias("ss_b"),
    )
    mean_a = F.col("s_a") / F.col("n_a")
    mean_b = F.col("s_b") / F.col("n_b")
    var_a = F.col("ss_a") / F.col("n_a") - mean_a * mean_a
    var_b = F.col("ss_b") / F.col("n_b") - mean_b * mean_b
    pooled = var_a / F.col("n_a") + var_b / F.col("n_b")
    # pooled variance can round to <= 0 for constant/degenerate cells;
    # NULL keeps Spark (NaN) and DuckDB (SQRT raises) identical.
    return stats.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        F.when(pooled > 0, (mean_a - mean_b) / F.sqrt(pooled)).alias(
            "zstat"
        ),
    )


Q121_ORACLE = """
WITH ev AS (
  SELECT event_type, value,
         CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 AS variant
  FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n_a,
         CAST(SUM(CASE WHEN variant = 0 THEN CAST(value AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS s_a,
         CAST(SUM(CASE WHEN variant = 0
                       THEN CAST(value * value AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS ss_a,
         CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n_b,
         CAST(SUM(CASE WHEN variant = 1 THEN CAST(value AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS s_b,
         CAST(SUM(CASE WHEN variant = 1
                       THEN CAST(value * value AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS ss_b
  FROM ev GROUP BY 1
)
SELECT event_type,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       s_a / n_a AS mean_a,
       s_b / n_b AS mean_b,
       CASE WHEN (ss_a / n_a - (s_a / n_a) * (s_a / n_a)) / n_a
                 + (ss_b / n_b - (s_b / n_b) * (s_b / n_b)) / n_b > 0
            THEN (s_a / n_a - s_b / n_b)
                 / SQRT((ss_a / n_a - (s_a / n_a) * (s_a / n_a)) / n_a
                        + (ss_b / n_b - (s_b / n_b) * (s_b / n_b)) / n_b)
       END AS zstat
FROM stats
"""


def q122_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel: view -> click AFTER the
    first view -> purchase AFTER that click, per user; the output is
    the per-stage user count (q70's funnel is set-membership — this is
    the time-ordered variant real product funnels need).

    Scale: all three stages aggregate/join on user_id, so the plan is
    one shuffle key end-to-end; each stage's frame is |users| rows."""
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .join(first_view, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        first_view.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(
            first_click.agg(F.count(F.lit(1)).alias("n_clicked_after"))
        )
        .crossJoin(
            first_purchase.agg(
                F.count(F.lit(1)).alias("n_purchased_after")
            )
        )
    )


Q122_ORACLE = """
WITH first_view AS (
  SELECT user_id, MIN(ts) AS view_ts FROM events
  WHERE event_type = 'view' GROUP BY 1
),
first_click AS (
  SELECT e.user_id, MIN(e.ts) AS click_ts
  FROM events e JOIN first_view v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.view_ts
  GROUP BY 1
),
first_purchase AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN first_click c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
  GROUP BY 1
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM first_view) AS n_viewed,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM first_click)
         AS n_clicked_after,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM first_purchase)
         AS n_purchased_after
"""


#: CMS geometry: d hash rows x w buckets. Width chosen so the
#: sketch stays tiny (d*w = 4096 cells) while bucket collisions remain
#: visible at test scale — the estimate-vs-true gap is the point.
_CMS_D = 4
_CMS_W = 1024


def q123_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over lineitem part keys: build a
    d x w CMS (md5-derived bucket per seed — engine-neutral, so the
    DuckDB oracle rebuilds the IDENTICAL sketch and the whole pipeline
    is hash-exact, not just invariant-bounded like q100's HLL), then
    report the top-20 parts by CMS estimate (min over the d cells,
    unique partkey tiebreak — the testdata key distribution is uniform,
    so a fixed frequency threshold would select nothing but collision
    noise; top-k by estimate is the deterministic heavy-hitter report).

    Scale: ONE md5 per row; the d row-hashes derive arithmetically
    (universal hashing — the same 1-md5 trick that made q19's minhash
    signatures cheap in r03; the 10x scaling probe showed the 4-md5
    variant at 8.06x growth, md5-bound). The sketch build is one
    map-side-combining agg over a d-way explode of precomputed
    buckets (output d*w = 4096 cells regardless of data size);
    estimates join the TINY sketch broadcast against the distinct
    keys. The exact groupBy is linear in |keys|, the CMS is O(d*w)."""
    from ..operators.similarity_dedup import (
        MINHASH_P,
        md5_long,
        minhash_params,
    )

    a_c, b_c = minhash_params(_CMS_D)
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    h0 = md5_long(F.col("l_partkey").cast("string")) % F.lit(MINHASH_P)
    cells = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("row"),
                (
                    (F.lit(a_c[j]) * h0 + F.lit(b_c[j]))
                    % F.lit(MINHASH_P)
                    % _CMS_W
                ).alias("bucket"),
            )
            for j in range(_CMS_D)
        ]
    )
    hashed = li.select(
        "l_partkey", F.explode(cells).alias("c")
    ).select("l_partkey", F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    sketch = hashed.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).alias("cell_count")
    )
    key_cells = hashed.distinct()
    est = (
        key_cells.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("l_partkey")
        .agg(F.min("cell_count").alias("cms_estimate"))
    )
    return (
        est.orderBy(F.desc("cms_estimate"), "l_partkey")
        .limit(20)
        .select("l_partkey", "cms_estimate")
    )


def _q123_oracle() -> str:
    from ..operators.similarity_dedup import MINHASH_P, minhash_params

    a_c, b_c = minhash_params(_CMS_D)
    rows = ", ".join(
        f"({j}, ({a_c[j]} * h0 + {b_c[j]}) % {MINHASH_P} % {_CMS_W})"
        for j in range(_CMS_D)
    )
    return f"""
WITH h AS (
  SELECT l_partkey,
         CAST(concat('0x', substring(md5(CAST(l_partkey AS VARCHAR)),
                                     1, 15)) AS BIGINT)
           % {MINHASH_P} AS h0
  FROM lineitem
),
hashed AS (
  SELECT l_partkey, CAST(t.r AS BIGINT) AS r, t.bucket
  FROM h, LATERAL (VALUES {rows}) t(r, bucket)
),
sketch AS (
  SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cell_count
  FROM hashed GROUP BY 1, 2
),
key_cells AS (
  SELECT DISTINCT l_partkey, r, bucket FROM hashed
),
est AS (
  SELECT k.l_partkey, MIN(s.cell_count) AS cms_estimate
  FROM key_cells k
  JOIN sketch s ON k.r = s.r AND k.bucket = s.bucket
  GROUP BY 1
)
SELECT l_partkey, cms_estimate
FROM est
ORDER BY cms_estimate DESC, l_partkey
LIMIT 20
"""


Q123_ORACLE = _q123_oracle()


def q124_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: per
    event_type, flag events whose |value - median| exceeds 4x the MAD
    — the q119 z-score's robust sibling (median/MAD don't move when
    the outliers themselves inflate mean/stddev).

    Determinism: exact interpolated medians (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, the q41-verified bit-exact pairing); the
    4*MAD compare is one IEEE expression on identical doubles.

    Scale: two event_type-keyed aggregations (median, then MAD of the
    residuals) with broadcast join-backs — the exact form sorts within
    groups; at 100 TB swap both percentiles for approx_percentile
    (same call shape, q102's sketch bounds)."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    med = ev.groupBy(F.col("event_type").alias("m_type")).agg(
        F.percentile("value", 0.5).alias("med")
    )
    with_med = ev.join(
        F.broadcast(med), F.col("event_type") == F.col("m_type")
    )
    mad = (
        with_med.groupBy(F.col("event_type").alias("d_type"))
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias(
                "mad"
            )
        )
    )
    return (
        with_med.join(
            F.broadcast(mad), F.col("event_type") == F.col("d_type")
        )
        .filter(F.abs(F.col("value") - F.col("med")) > F.lit(4.0) * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
    )


Q124_ORACLE = """
WITH med AS (
  SELECT event_type AS m_type, quantile_cont(value, 0.5) AS med
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
with_med AS (
  SELECT e.event_id, e.event_type, e.value, m.med
  FROM events e JOIN med m ON e.event_type = m.m_type
  WHERE e.value IS NOT NULL
),
mad AS (
  SELECT event_type AS d_type, quantile_cont(ABS(value - med), 0.5) AS mad
  FROM with_med GROUP BY 1
)
SELECT w.event_id, w.event_type, w.value, w.med, d.mad
FROM with_med w
JOIN mad d ON w.event_type = d.d_type
WHERE ABS(w.value - w.med) > 4.0 * d.mad
"""


def q126_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity violation report over customers: quasi-identifiers
    are (nation, market segment, account-balance band of 1000) — every
    equivalence class smaller than k=5 re-identifies its members.
    Operator: :func:`functions.pii.k_anonymity_report`.

    Scale: one QI-keyed hash agg with map-side combine."""
    from ..functions.pii import k_anonymity_report

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("balance_band"),
    )
    return k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment", "balance_band"], k=5
    )


Q126_ORACLE = """
SELECT c_nationkey, c_mktsegment,
       CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS balance_band,
       COUNT(*) AS class_size
FROM customer
GROUP BY 1, 2, 3
HAVING COUNT(*) < 5
"""


def q127_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram matrix (sum of outer products) of the embedding corpus —
    THE single-pass sufficient statistic behind distributed
    PCA/covariance (a numpy eigh on the d x d result finishes a PCA).
    The matrix is symmetric, so only the upper triangle (i <= j,
    d(d+1)/2 cells) is computed — half the expansion and half the
    aggregation of the naive d^2.

    Spark plan: rows cross-join a broadcast CONSTANT (i, j) triangle
    index (2080 rows for d=64 — never a data self-join) and the
    product is two codegen'd ``element_at`` lookups; the partial
    (i, j) agg fuses into the SAME whole-stage-codegen pass, so the
    expansion never materializes. This replaced a nested-``transform``
    struct build: higher-order-function lambdas evaluate interpreted
    per element, and the 2080-struct array per row was 2.8x slower
    than the fused join (10.0s -> 3.5s at sf0.1). ``spread_partitions``
    first: a single-file scan otherwise runs the whole CPU-heavy
    expansion on one core (no-op at real scale). Elements are cast
    float->double BEFORE multiplying (exact in both engines) and the
    per-row double products are decimal-cast so the sums are
    order-independent — hash-exact vs the oracle's explicit triangular
    unnest."""
    from ..functions.vectors import dim_index_frame, elem_double
    from ..operators.skew import spread_partitions

    emb = spread_partitions(
        load_table(spark, sf_dir, "embeddings"), "vec_id"
    ).select("embedding")
    idx = dim_index_frame(spark, 64, upper_triangle=True)
    prod = elem_double("embedding", "i") * elem_double("embedding", "j")
    return (
        emb.crossJoin(F.broadcast(idx))
        .groupBy("i", "j")
        .agg(F.sum(_dec(prod)).cast("double").alias("gram"))
    )


Q127_ORACLE = """
SELECT CAST(i.i AS BIGINT) AS i, CAST(j.j AS BIGINT) AS j,
       CAST(SUM(CAST(CAST(e.embedding[i.i + 1] AS DOUBLE)
                     * CAST(e.embedding[j.j + 1] AS DOUBLE)
                     AS DECIMAL(18,6))) AS DOUBLE) AS gram
FROM embeddings e
CROSS JOIN (SELECT range AS i FROM range(0, 64)) i
CROSS JOIN (SELECT range AS j FROM range(0, 64)) j
WHERE j.j >= i.i
GROUP BY 1, 2
"""


def q130_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (the WAU curve).
    COUNT(DISTINCT) over a sliding window is not incrementally
    decomposable, so the plan inverts it: each (user, active-day) pair
    is exploded into the 7 trailing report days it contributes to
    (map-side, like hopping windows), then ONE (day)-keyed exact
    distinct count — no per-day re-scan, no window-over-distinct.

    Report days are clipped to the observed max day so no trailing
    window extends past the dataset (the low side needs no clip:
    report_day >= d >= min_day by construction)."""
    ev = load_events(spark, sf_dir).select("user_id", "ts")
    didx = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    days = ev.select("user_id", didx.alias("d")).distinct()
    span = days.agg(F.max("d").alias("hi"))
    contrib = (
        days.select(
            "user_id",
            F.explode(
                F.sequence(F.col("d"), F.col("d") + F.lit(6))
            ).alias("report_day"),
        )
        .crossJoin(F.broadcast(span))
        .filter(F.col("report_day") <= F.col("hi"))
    )
    return contrib.groupBy("report_day").agg(
        F.countDistinct("user_id").alias("active_users_7d")
    )


Q130_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS INT) AS d
  FROM events
),
span AS (SELECT MAX(d) AS hi FROM days),
contrib AS (
  SELECT user_id, d + k.k AS report_day
  FROM days
  CROSS JOIN (SELECT UNNEST(range(0, 7)) AS k) k
)
SELECT CAST(report_day AS INT) AS report_day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users_7d
FROM contrib, span
WHERE report_day <= span.hi
GROUP BY 1
"""


def q131_window_battery2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second window-function battery (q51 covers running/sliding/
    row_number/ntile): rank, dense_rank, percent_rank, cume_dist,
    offset functions (lag/lead with defaults), nth_value over a full
    frame, and a RANGE value-based frame — the rest of the ANSI window
    surface, all in ONE pass over orders per priority.

    Determinism: ties in the rank family are value-stable by
    definition; offset/nth functions use a UNIQUE (price, orderkey)
    order; the RANGE frame includes peers, so it is tie-insensitive.
    percent_rank/cume_dist are exact integer ratios — identical IEEE
    doubles in both engines. One hash shuffle on the partition key."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    uniq = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("price"), F.asc("o_orderkey")
    )
    by_val = Window.partitionBy("o_orderpriority").orderBy(F.desc("price"))
    full = uniq.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rng = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("price"))
        .rangeBetween(-100, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(by_val).cast("long").alias("price_rank"),
        F.dense_rank().over(by_val).cast("long").alias("price_dense_rank"),
        F.percent_rank().over(by_val).alias("price_percent_rank"),
        F.cume_dist().over(by_val).alias("price_cume_dist"),
        F.lag("price", 2, -1.0).over(uniq).cast("double").alias("lag2"),
        F.lead("price", 1, -1.0).over(uniq).cast("double").alias("lead1"),
        F.nth_value("price", 3).over(full).cast("double").alias("third_price"),
        F.sum("price").over(rng).cast("double").alias("sum_within_100"),
    )


Q131_ORACLE = """
SELECT o_orderkey, o_orderpriority,
       CAST(RANK() OVER w_val AS BIGINT) AS price_rank,
       CAST(DENSE_RANK() OVER w_val AS BIGINT) AS price_dense_rank,
       PERCENT_RANK() OVER w_val AS price_percent_rank,
       CUME_DIST() OVER w_val AS price_cume_dist,
       CAST(LAG(price, 2, CAST(-1.0 AS DECIMAL(18,2))) OVER w_uniq
            AS DOUBLE) AS lag2,
       CAST(LEAD(price, 1, CAST(-1.0 AS DECIMAL(18,2))) OVER w_uniq
            AS DOUBLE) AS lead1,
       CAST(NTH_VALUE(price, 3) OVER
            (w_uniq ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING) AS DOUBLE) AS third_price,
       CAST(SUM(price) OVER
            (PARTITION BY o_orderpriority ORDER BY price
             RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS sum_within_100
FROM (SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders)
WINDOW
  w_val AS (PARTITION BY o_orderpriority ORDER BY price DESC),
  w_uniq AS (PARTITION BY o_orderpriority
             ORDER BY price DESC, o_orderkey ASC)
"""


INSIGHT_QUERIES = {
    "q117_part_skyline": q117_part_skyline,
    "q118_orders_profile": q118_orders_profile,
    "q119_event_value_outliers": q119_event_value_outliers,
    "q120_cohort_retention": q120_cohort_retention,
    "q121_ab_test_zscores": q121_ab_test_zscores,
    "q122_ordered_funnel": q122_ordered_funnel,
    "q123_cms_heavy_hitters": q123_cms_heavy_hitters,
    "q124_mad_outliers": q124_mad_outliers,
    "q126_k_anonymity": q126_k_anonymity,
    "q127_embedding_gram": q127_embedding_gram,
    "q130_rolling_active_users": q130_rolling_active_users,
    "q131_window_battery2": q131_window_battery2,
}

INSIGHT_ORACLES = {
    "q117_part_skyline": Q117_ORACLE,
    "q118_orders_profile": Q118_ORACLE,
    "q119_event_value_outliers": Q119_ORACLE,
    "q120_cohort_retention": Q120_ORACLE,
    "q121_ab_test_zscores": Q121_ORACLE,
    "q122_ordered_funnel": Q122_ORACLE,
    "q123_cms_heavy_hitters": Q123_ORACLE,
    "q124_mad_outliers": Q124_ORACLE,
    "q126_k_anonymity": Q126_ORACLE,
    "q127_embedding_gram": Q127_ORACLE,
    "q130_rolling_active_users": Q130_ORACLE,
    "q131_window_battery2": Q131_ORACLE,
}
