"""Persisted component ledger — incremental near-dup clustering at
the storage layer (round 12; the union-find idea, storage edition).

`graph_incremental.merge_components` updates an in-memory label
frame. A 100 TB corpus persists its labels, and the naive persisted
merge has no good layout: bucketing by NODE prunes lookups but a
merge relabels members scattered across every bucket; bucketing by
COMPONENT prunes the rewrite but node lookups full-scan. The ledger
here keeps BOTH cheap by never rewriting members on merge:

- ``path/store`` — (node, component) rows, hive-bucketed by the NODE
  (``nb = md5_long(node) % B``, the shared `bucketed_ledger`
  mechanics): probes prune to touched buckets, appends are
  one-file-per-bucket. Append-only: a row's stored component is the
  component AT INSERT TIME.
- ``path/alias`` — a small (old, new) component-alias table, the
  union-find parent forest kept CANONICAL (every append re-resolves
  existing targets through the new mapping, so chains never form and
  reads resolve with ONE broadcast join). Its size is bounded by the
  merges since the last compaction, never by the corpus.
- reads/probes resolve: ``coalesce(alias.new, stored component)``.
- `compact_component_ledger` amortizes: rewrite the store with
  aliases applied (a new directory the store log then names), then
  clear the alias table —
  a stale alias over a compacted store maps values that no longer
  occur, so a crash between the two steps is harmless.

Merge crash contract (at-least-once, like every store here): new
nodes append first (anti-joined against the store, so replays never
duplicate), aliases land last; a replay of a half-applied delta
re-derives the same mapping from the half-applied state and
converges — pinned by the replay test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import overwrite_parquet_atomically, read_parquet_if_exists
from .graph_incremental import delta_component_mapping

__all__ = [
    "init_component_ledger",
    "merge_ledger_components",
    "read_component_labels",
    "probe_components",
    "compact_component_ledger",
    "component_alias_count",
    "maybe_compact_component_ledger",
    "retract_component_nodes",
]

NB_COL = "nb"
DEFAULT_BUCKETS = 64
_ALIAS_SCHEMA = "old long, new long"


def _nb_of_col(node: Column, n_buckets: int) -> Column:
    return F.pmod(
        F.conv(
            F.substring(F.md5(node.cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(n_buckets),
    )


def _store(path: str) -> str:
    return f"{path.rstrip('/')}/store"


def _alias(path: str) -> str:
    return f"{path.rstrip('/')}/alias"


def _read_alias(spark: SparkSession, path: str) -> DataFrame:
    from ..functions.localframe import local_rows_df

    df = read_parquet_if_exists(spark, _alias(path))
    if df is None:
        return local_rows_df(spark, [], _ALIAS_SCHEMA)
    return df.select("old", "new")


def _resolve(labels: DataFrame, alias: DataFrame) -> DataFrame:
    out = labels.join(
        F.broadcast(alias), labels["component"] == alias["old"], "left"
    )
    return out.select(
        *[c for c in labels.columns if c != "component"],
        F.coalesce("new", "component").alias("component"),
    )


def init_component_ledger(
    labels: DataFrame,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    node_col: str = "node",
    comp_col: str = "component",
) -> None:
    """Seed the store from (node, component) labels (e.g. a batch CC
    run). Single-writer, append semantics — call once per node set."""
    from .bucketed_ledger import append_bucketed

    rows = labels.select(
        F.col(node_col).alias("node"), F.col(comp_col).alias("component")
    )
    append_bucketed(
        rows, _store(path), NB_COL,
        lambda n: _nb_of_col(F.col("node"), n), n_buckets,
        columns=["node", "component"],
    )


_STORE_SCHEMA = f"node long, component long, {NB_COL} int"


def _read_store(
    spark: SparkSession, path: str
) -> tuple[DataFrame, int]:
    """The store scan and its bucket count. The scan states its (fixed)
    schema explicitly — parquet schema inference is a driver-visible
    job per read, and the lifecycle queries read the store several
    times (round 14)."""
    from .bucketed_ledger import layout

    data, nb = layout(spark, _store(path))
    return spark.read.schema(_STORE_SCHEMA).parquet(data), nb


def read_component_labels(spark: SparkSession, path: str) -> DataFrame:
    """Every (node, component) with aliases resolved."""
    store = _read_store(spark, path)[0].select("node", "component")
    return _resolve(store, _read_alias(spark, path))


def probe_components(
    spark: SparkSession, path: str, nodes: DataFrame,
    node_col: str = "node",
) -> DataFrame:
    """(node, component) for the probe nodes — bucket-pruned scan,
    broadcast-TRANCHE semi direction (the store is never shuffled or
    broadcast), aliases resolved. Unknown nodes are ABSENT from the
    result (a node the ledger never saw has no component yet)."""
    from .bucketed_ledger import prune_to_buckets, touched_buckets

    keys = nodes.select(F.col(node_col).alias("node")).distinct()
    store, nb = _read_store(spark, path)
    nbs = touched_buckets(
        keys, lambda n: _nb_of_col(F.col("node"), n), nb
    )
    store = prune_to_buckets(store, NB_COL, nbs).select("node", "component")
    hit = store.join(F.broadcast(keys), "node", "left_semi")
    return _resolve(hit, _read_alias(spark, path))


def _nb_of_py(node: int, n_buckets: int) -> int:
    """Python twin of `_nb_of_col` — identical arithmetic (md5 of the
    node id's decimal string, 60-bit hex prefix, modulo), so a driver-
    held endpoint set can compute its touched buckets without a Spark
    job. Pinned against the Column form by
    tests/test_component_ledger.py."""
    import hashlib

    h = hashlib.md5(str(int(node)).encode("ascii")).hexdigest()[:15]
    return int(h, 16) % int(n_buckets)


def merge_ledger_components(
    spark: SparkSession,
    path: str,
    new_edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_aliases: int | None = None,
) -> dict:
    """Fold a delta of undirected edges into the ledger at DELTA cost:
    endpoint labels come from a bucket-pruned probe, batch CC runs
    over the component-level edge list (bounded by the delta), brand-
    new nodes append under their merged component, and retired
    components land in the alias table (kept canonical). Returns
    {new_nodes, new_aliases, compacted} for the caller's run ledger.

    Round 14 (guide §1.2 — the distributed algorithm first): the
    merge's decision state was ALWAYS delta-bounded and driver-held —
    the component mapping collected into a union-find, and every
    derived frame (endpoints, fresh nodes, the alias table) broadcast.
    The round-13 shape still ran ~11 sequential driver actions per
    merge (checkpoint, count and join jobs over those bounded frames),
    which at probe scale is pure job-scheduling wall and at 100 TB
    serializes the ingest loop between tranches. Now the delta
    (``<= DRIVER_CC_MAX_EDGES`` distinct edges, the same ceiling the
    mapping already collected under) collects ONCE; endpoints, the
    touched buckets, the translation, the union-find, fresh labels and
    the alias rewrite are plain Python over that envelope, and the
    cluster does exactly three data jobs: the bucket-pruned endpoint
    probe (the only corpus-touching read, shape unchanged), the
    fresh-node append, and the alias-table rewrite. Deltas over the
    ceiling take the distributed path (`_merge_ledger_distributed`,
    the round-13 implementation, verbatim).

    Merge crash contract unchanged (module docstring): fresh nodes
    append FIRST, aliases land LAST, replays converge.

    ``max_aliases`` (round 13): state-based auto-compaction — after
    the merge, if the alias table exceeds this many rows, fire
    `compact_component_ledger` (the `compaction_policy` trigger
    recipe applied to the ledger's own debt metric: every merge with
    retirements rewrites AND broadcasts the whole alias table, so an
    unbounded merge streak grows both; the trigger bounds them)."""
    from .bucketed_ledger import append_bucketed, prune_to_buckets
    from .graph_incremental import DRIVER_CC_MAX_EDGES, driver_union_find
    from ..functions.localframe import local_rows_df

    edges_pdf = (
        new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .limit(DRIVER_CC_MAX_EDGES + 1)
        .toPandas()
    )
    if len(edges_pdf) > DRIVER_CC_MAX_EDGES:
        return _merge_ledger_distributed(
            spark, path, new_edges, src, dst, max_aliases
        )
    epairs = list(
        zip(
            edges_pdf["u"].to_numpy().tolist(),
            edges_pdf["v"].to_numpy().tolist(),
        )
    )
    endpoints = sorted({n for e in epairs for n in e})

    # bucket-pruned probe, broadcast-TRANCHE direction (the store is
    # never shuffled or broadcast) — probe_components' shape with the
    # endpoint set and touched buckets driver-computed. The store read
    # carries its (fixed) schema explicitly and the delta-bounded
    # alias table rides the SAME collect as the probe result (a tagged
    # union), so the whole read side is ONE cluster job instead of
    # inference + probe + alias three.
    store, nb = _read_store(spark, path)
    nbs = sorted({_nb_of_py(n, nb) for n in endpoints})
    ep_df = local_rows_df(
        spark, [(int(n),) for n in endpoints], "node long"
    )
    store = prune_to_buckets(store, NB_COL, nbs).select("node", "component")
    probe = store.join(F.broadcast(ep_df), "node", "left_semi").select(
        F.lit(0).alias("__t"), F.col("node").alias("__a"),
        F.col("component").alias("__b"),
    )
    alias_rows = _read_alias(spark, path).select(
        F.lit(1).alias("__t"), F.col("old").alias("__a"),
        F.col("new").alias("__b"),
    )
    both = probe.unionByName(alias_rows).toPandas()
    tags = both["__t"].to_numpy()
    a_vals = both["__a"].to_numpy().tolist()
    b_vals = both["__b"].to_numpy().tolist()
    alias_pairs = [
        (int(a), int(b))
        for t, a, b in zip(tags.tolist(), a_vals, b_vals)
        if t == 1
    ]
    alias_map = dict(alias_pairs)
    known = {
        int(a): alias_map.get(int(b), int(b))
        for t, a, b in zip(tags.tolist(), a_vals, b_vals)
        if t == 0
    }
    labels = {n: known.get(n, n) for n in endpoints}
    mapping = driver_union_find(
        (labels[u], labels[v]) for u, v in epairs
    )

    # 1) brand-new nodes append FIRST (replay-safe: on a re-run every
    # endpoint probes as known and this list is empty)
    fresh = [n for n in endpoints if n not in known]
    n_fresh = len(fresh)
    if n_fresh:
        fresh_labels = local_rows_df(
            spark,
            [(int(n), int(mapping.get(n, n))) for n in fresh],
            "node long, component long",
        )
        append_bucketed(
            fresh_labels, _store(path), NB_COL,
            lambda n: _nb_of_col(F.col("node"), n), nb,
            columns=["node", "component"],
        )

    # 2) aliases for RETIRED existing components, table kept canonical
    fresh_set = set(fresh)
    retired = {
        int(o): int(m) for o, m in mapping.items() if o not in fresh_set
    }
    n_new_aliases = len(retired)
    if n_new_aliases:
        rewritten = [
            (o, retired.get(n2, n2)) for o, n2 in alias_pairs
        ]
        merged_alias = local_rows_df(
            spark, rewritten + sorted(retired.items()), _ALIAS_SCHEMA
        )
        overwrite_parquet_atomically(
            merged_alias.coalesce(1), _alias(path)
        )
    compacted = False
    if max_aliases is not None:
        compacted = maybe_compact_component_ledger(
            spark, path, max_aliases
        )
    return {
        "new_nodes": n_fresh,
        "new_aliases": n_new_aliases,
        "compacted": compacted,
    }


def _merge_ledger_distributed(
    spark: SparkSession,
    path: str,
    new_edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_aliases: int | None = None,
) -> dict:
    """The over-ceiling merge: the round-13 frame-based implementation,
    kept verbatim for deltas whose distinct edge list exceeds
    `DRIVER_CC_MAX_EDGES` (where `delta_component_mapping` runs the
    distributed star contraction anyway and the driver envelope above
    would not fit)."""
    from .bucketed_ledger import append_bucketed, layout

    edges = (
        new_edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v")
        )
        .localCheckpoint(eager=True)
    )
    endpoints = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    known = probe_components(spark, path, endpoints).localCheckpoint(
        eager=True
    )
    labels = endpoints.join(known, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )
    lab_u = labels.select(
        F.col("node").alias("u"), F.col("component").alias("__cu")
    )
    lab_v = labels.select(
        F.col("node").alias("v"), F.col("component").alias("__cv")
    )
    comp_edges = (
        edges.join(lab_u, "u").join(lab_v, "v").select(
            F.col("__cu").alias("cu"), F.col("__cv").alias("cv")
        )
    )
    mapping = delta_component_mapping(comp_edges).select(
        F.col("__old").alias("old"), F.col("__m").alias("new")
    )

    # 1) brand-new nodes append FIRST (replay-safe: the anti-join
    # below is empty on a re-run)
    fresh = endpoints.join(
        known.select("node"), "node", "left_anti"
    ).localCheckpoint(eager=True)
    n_fresh = fresh.count()
    if n_fresh:
        fresh_labels = (
            fresh.join(
                F.broadcast(mapping),
                fresh["node"] == F.col("old"),
                "left",
            )
            .select(
                "node",
                F.coalesce("new", F.col("node")).alias("component"),
            )
        )
        append_bucketed(
            fresh_labels, _store(path), NB_COL,
            lambda n: _nb_of_col(F.col("node"), n),
            layout(spark, _store(path))[1],
            columns=["node", "component"],
        )

    # 2) aliases for RETIRED existing components, table kept canonical
    retired = mapping.join(
        F.broadcast(fresh.select(F.col("node").alias("old"))),
        "old", "left_anti",
    )
    n_new_aliases = retired.count()
    if n_new_aliases:
        old_alias = _read_alias(spark, path)
        rewritten = (
            old_alias.join(
                F.broadcast(
                    retired.select(
                        F.col("old").alias("__ro"),
                        F.col("new").alias("__rn"),
                    )
                ),
                old_alias["new"] == F.col("__ro"),
                "left",
            )
            .select("old", F.coalesce("__rn", "new").alias("new"))
        )
        merged_alias = rewritten.unionByName(
            retired.select("old", "new")
        ).localCheckpoint(eager=True)
        overwrite_parquet_atomically(
            merged_alias.coalesce(1), _alias(path)
        )
    compacted = False
    if max_aliases is not None:
        compacted = maybe_compact_component_ledger(
            spark, path, max_aliases
        )
    return {
        "new_nodes": n_fresh,
        "new_aliases": n_new_aliases,
        "compacted": compacted,
    }


def compact_component_ledger(
    spark: SparkSession, path: str, relabel_dangling: bool = False
) -> None:
    """Apply the alias table into the store (a rewrite into a new
    directory that the store log then names, one file per bucket) and
    clear it. A crash between the two steps
    leaves aliases whose sources no longer occur in the store —
    harmless no-ops the next compaction clears.

    ``relabel_dangling`` (round 13, the takedown interaction): after
    `retract_component_nodes` removed a component's min-id member,
    its label keeps naming the component as a TOMBSTONE identifier —
    correct for merging (labels are opaque min-over-ids) but it no
    longer points at a live row. With this flag the compaction
    restores the label-is-min-LIVE-member invariant: components whose
    label is absent from the node set relabel to their min surviving
    member. The dangling set is bounded by retractions since the last
    such compaction (a label can only dangle if its node was
    retracted), so the relabel map broadcasts; detecting it is one
    aggregate over the rows the compaction is rewriting anyway."""
    from .bucketed_ledger import compact_bucketed, layout
    from ..functions.localframe import local_rows_df

    # ONE bounded collect decides the no-op case AND becomes the
    # broadcastable alias frame (round 14 — the round-13 shape spent
    # two driver actions, an eager checkpoint plus a count, on a table
    # whose size is bounded by merges since the last compaction)
    alias_pdf = _read_alias(spark, path).toPandas()
    if len(alias_pdf) == 0 and not relabel_dangling:
        return
    alias = local_rows_df(
        spark,
        [
            (int(o), int(n))
            for o, n in zip(
                alias_pdf["old"].to_numpy().tolist(),
                alias_pdf["new"].to_numpy().tolist(),
            )
        ],
        _ALIAS_SCHEMA,
    )

    def _transform(rows: DataFrame) -> DataFrame:
        out = _resolve(rows, alias)
        if not relabel_dangling:
            # consumed exactly once (the compaction rewrite) — no
            # checkpoint needed (round 14: one fewer action)
            return out
        # the relabel path references the resolved frame three more
        # times (dangling detection twice, the relabel join) — keep
        # the checkpoint that stops those re-resolving
        out = out.localCheckpoint(eager=True)
        dangling = (
            out.select("component")
            .distinct()
            .join(
                out.select(F.col("node").alias("component")),
                "component",
                "left_anti",
            )
        )
        relabel = (
            out.join(F.broadcast(dangling), "component", "left_semi")
            .groupBy("component")
            .agg(F.min("node").alias("__new"))
        )
        # consumed once by the rewrite — no final checkpoint
        return (
            out.join(F.broadcast(relabel), "component", "left")
            .select(
                "node",
                F.coalesce("__new", "component").alias("component"),
            )
        )

    compact_bucketed(
        spark, _store(path), NB_COL,
        lambda n: _nb_of_col(F.col("node"), n),
        layout(spark, _store(path))[1],
        columns=["node", "component"],
        transform=_transform,
    )
    overwrite_parquet_atomically(
        local_rows_df(spark, [], _ALIAS_SCHEMA).coalesce(1),
        _alias(path),
    )


def component_alias_count(spark: SparkSession, path: str) -> int:
    """Rows in the alias table — the ledger's accumulated merge debt
    (every merge with retirements rewrites AND broadcasts this table,
    so its size is the cost that compaction amortizes). One read of a
    single coalesced parquet file; 0 for a fresh ledger."""
    return _read_alias(spark, path).count()


def maybe_compact_component_ledger(
    spark: SparkSession, path: str, max_aliases: int
) -> bool:
    """Compact iff the alias table exceeds ``max_aliases`` rows — the
    `compaction_policy` state-based-trigger recipe with the ledger's
    own debt metric. Returns whether a compaction ran."""
    if max_aliases < 1:
        raise ValueError("max_aliases must be >= 1")
    if component_alias_count(spark, path) <= max_aliases:
        return False
    compact_component_ledger(spark, path)
    return True


def retract_component_nodes(
    spark: SparkSession, path: str, nodes: DataFrame,
    node_col: str = "node",
) -> int:
    """Takedown for the component ledger: remove the nodes' membership
    rows at delta cost (`retraction.retract_keys_bucketed` — only the
    buckets the node ids hash into are rewritten). Returns rows
    removed.

    Label semantics (round 13, VERDICT r12 #8): component labels are
    IDENTIFIERS, not live-doc pointers. Retracting a component's
    min-id member leaves its label as a tombstone — membership reads
    and future merges stay correct (the min-over-ids convention never
    required the min to be live, and a retracted id can never
    resurface: its store rows are gone and fresh nodes get their own
    ids) — until the next `compact_component_ledger(...,
    relabel_dangling=True)` relabels such components to their min
    SURVIVING member. Tombstone-until-compaction, relabel-at-
    compaction: retraction stays bucket-pruned, the store-wide
    relabel rides the rewrite compaction does anyway."""
    from .retraction import retract_keys_bucketed

    keys = nodes.select(F.col(node_col).alias("node"))
    return retract_keys_bucketed(
        spark, _store(path), NB_COL,
        lambda n: _nb_of_col(F.col("node"), n),
        keys, "node",
    )
