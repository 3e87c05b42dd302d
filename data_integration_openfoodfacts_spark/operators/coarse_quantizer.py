"""Two-level (coarse-quantizer) centroid assignment — breaking the
k∝n SemDeDup fit's n×k barrier (round 13, VERDICT r12 #1).

Under the k∝n policy (`similarity.semdedup_k`) every plain Lloyd
sweep scores n vectors against k ≈ n/c centers: n²/c distance work,
measured super-linear in SCALING_LLM round12 (fit 4.0s → 42.7s at
10× corpus). The IVF trick applies to the FIT itself: group the k
centers into B ≈ √(m·k) blocks (a tiny driver-side k-means over the
k×d center matrix — k points, not n), assign each corpus vector to
its top-m blocks by block-center cosine, and run the exact argmax
only within those blocks' centers. Per-point work drops from k to
B + m·k/B ≈ 2√(m·k) — the per-sweep total is n·√k-ish instead of
n·k, and the n×B block scores plus the per-block GEMMs never exist
as Spark rows (same Arrow-only `mapInPandas` shape as
`gemm_scan.gemm_assign`).

Approximation contract: a vector whose true nearest center's block
is not among its top-m block choices gets its best IN-PROBED center
instead — the standard IVF recall trade. `n_probe` tunes it;
the committed round-13 probe measures dedup quality vs the
full-assignment path at ≥95%. Like `gemm_scan`, this is a
scale-path operator, deliberately NOT oracle-gated (BLAS ulp
disclaimer applies on top of the probe approximation); gate queries
keep the integer Lloyd fit.

Conventions match `gemm_assign` exactly where defined: ties break to
the lowest centroid id AMONG PROBED BLOCKS; zero-norm vectors score
-2.0 everywhere and assign the globally lowest centroid id; zero-norm
centroids score -2.0 and are never preferred over a real match.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

__all__ = [
    "block_partition",
    "blocked_assign",
    "assign_mean_partials",
]


def block_partition(
    C: np.ndarray, n_blocks: int, n_iters: int = 8
) -> np.ndarray:
    """Group k center vectors (k×d, any scale) into ``n_blocks``
    coarse blocks: a deterministic driver-side Lloyd over the k
    NORMALIZED centers (k points — microscopic next to the corpus
    sweep it prunes). Seeds are evenly spaced in index order (the
    centers arrive id-sorted, and ids are md5-seeded already, so the
    spread is data-derived without extra RNG); empty blocks keep
    their seed. Returns an int64 block id per center."""
    k = C.shape[0]
    n_blocks = max(1, min(n_blocks, k))
    norms = np.linalg.norm(C, axis=1)
    Cn = C / np.where(norms == 0.0, 1.0, norms)[:, None]
    seed_idx = np.linspace(0, k - 1, n_blocks).astype(np.int64)
    B = Cn[seed_idx].copy()
    assign = np.zeros(k, dtype=np.int64)
    for _ in range(n_iters):
        S = Cn @ B.T
        assign = S.argmax(axis=1)
        for b in range(n_blocks):
            members = Cn[assign == b]
            if len(members):
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                B[b] = m / nm if nm > 0.0 else m
    return assign


#: driver-collect ceiling for the centroid table: the kernel holds the
#: k x d float64 center matrix on the driver AND ships it to every
#: Python worker inside the task closure, so the budget is ~128 MB of
#: centers (2^24 doubles) — at d=1024 that is ~16k centroids, at
#: d=64 ~262k. k∝n/45 crosses this around n ≈ 10^7·d/64 vectors; past
#: it, assignment needs a broadcast/join formulation, and raising a
#: clear error here beats a silent driver OOM mid-collect (round 14,
#: VERDICT r13 #7).
MAX_CENTROID_ROWS = 1 << 20
MAX_CENTROID_FLOATS = 1 << 24


def _collect_centroids(centroids: DataFrame, cols) -> list:
    """Bounded driver collect of the centroid table: row count is
    capped BEFORE the collect (limit), the k x d float budget right
    after — both raise loudly instead of OOMing the driver."""
    crows = centroids.select(*cols).limit(MAX_CENTROID_ROWS + 1).collect()
    if not crows:
        raise ValueError("centroids frame is empty")
    if len(crows) > MAX_CENTROID_ROWS:
        raise ValueError(
            f"centroid table exceeds {MAX_CENTROID_ROWS} rows - the "
            "driver-held kernel cannot hold it; shard the corpus or "
            "use a broadcast-join assignment"
        )
    dim = len(crows[0][1])
    if len(crows) * dim > MAX_CENTROID_FLOATS:
        raise ValueError(
            f"centroid matrix {len(crows)}x{dim} exceeds the "
            f"{MAX_CENTROID_FLOATS}-float driver/worker budget "
            "(~128 MB); shard the corpus or use a broadcast-join "
            "assignment"
        )
    return crows


def _build_kernel(crows, n_probe: int | None, n_blocks: int | None):
    """The per-batch assignment kernel shared by `blocked_assign` and
    `assign_mean_partials`: returns (sorted centroid ids, kernel)
    where kernel(Mn, zero_rows) -> actual centroid id per row.
    ``n_probe=None`` scores every center in one flat GEMM (the
    gemm_assign argmax, same conventions); an int probes only the
    top-``n_probe`` coarse blocks."""
    c_ids = np.array([r[0] for r in crows], dtype=np.int64)
    order = np.argsort(c_ids, kind="stable")
    c_ids = c_ids[order]
    C = np.stack(
        [np.asarray(crows[i][1], dtype=np.float64) for i in order]
    )
    k = len(c_ids)
    lowest_cid = int(c_ids.min())
    cn = np.linalg.norm(C, axis=1)
    cn_safe = np.where(cn == 0.0, 1.0, cn)

    if n_probe is None:
        Ct = np.ascontiguousarray((C / cn_safe[:, None]).T)
        zero_cols = cn == 0.0

        def flat_kernel(Mn, zero_rows):
            S = Mn @ Ct
            S[zero_rows, :] = -2.0
            S[:, zero_cols] = -2.0
            j = S.argmax(axis=1)  # first max = lowest centroid id
            return c_ids[j]

        return c_ids, flat_kernel

    if n_blocks is None:
        n_blocks = int(np.ceil(np.sqrt(n_probe * k)))
    blocks = block_partition(C, n_blocks)
    n_blocks = int(blocks.max()) + 1
    # re-order centers block-major, id-minor: within a block, argmax's
    # first-max rule then lands on the lowest centroid id — the
    # gemm_assign tie convention, per block
    reorder = np.lexsort((c_ids, blocks))
    c_ids_b = c_ids[reorder]
    C = C[reorder]
    blocks = blocks[reorder]
    starts = np.searchsorted(blocks, np.arange(n_blocks + 1))
    cn = np.linalg.norm(C, axis=1)
    cn_safe = np.where(cn == 0.0, 1.0, cn)
    Cn = C / cn_safe[:, None]
    zero_cents = cn == 0.0
    # block centers for the coarse scan: mean of member normalized
    # centers (recomputed from the final partition so the broadcast
    # payload is one (B×d) matrix plus the flat center matrix)
    Bm = np.zeros((n_blocks, C.shape[1]))
    for b in range(n_blocks):
        sl = slice(starts[b], starts[b + 1])
        if sl.stop > sl.start:
            m = Cn[sl][~zero_cents[sl]]
            if len(m):
                Bm[b] = m.mean(axis=0)
    bn = np.linalg.norm(Bm, axis=1)
    Bt = np.ascontiguousarray(
        (Bm / np.where(bn == 0.0, 1.0, bn)[:, None]).T
    )
    Ct = np.ascontiguousarray(Cn.T)
    m_probe = min(n_probe, n_blocks)

    def blocked_kernel(Mn, zero_rows):
        n = Mn.shape[0]
        SB = Mn @ Bt  # n × B coarse scores
        if m_probe < n_blocks:
            top = np.argpartition(-SB, m_probe - 1, axis=1)[:, :m_probe]
        else:
            top = np.broadcast_to(np.arange(n_blocks), (n, n_blocks))
        probe = np.zeros((n, n_blocks), dtype=bool)
        probe[np.arange(n)[:, None], top] = True
        best_s = np.full(n, -np.inf)
        best_id = np.full(n, np.iinfo(np.int64).max)
        for b in range(n_blocks):
            rows = np.nonzero(probe[:, b])[0]
            sl = slice(starts[b], starts[b + 1])
            if len(rows) == 0 or sl.stop == sl.start:
                continue
            S = Mn[rows] @ Ct[:, sl]
            S[:, zero_cents[sl]] = -2.0
            j = S.argmax(axis=1)  # first max = lowest id in block
            sc = S[np.arange(len(rows)), j]
            cid = c_ids_b[starts[b] + j]
            better = (sc > best_s[rows]) | (
                (sc == best_s[rows]) & (cid < best_id[rows])
            )
            upd = rows[better]
            best_s[upd] = sc[better]
            best_id[upd] = cid[better]
        # engine convention: a zero-norm vector scores -2.0 against
        # every center, so it ties everywhere -> globally lowest id
        best_id[zero_rows] = lowest_cid
        return best_id

    return c_ids, blocked_kernel


def blocked_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    n_probe: int = 4,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> DataFrame:
    """Max-cosine centroid assignment probing only the top-``n_probe``
    coarse blocks per vector. Output schema and conventions match
    `gemm_scan.gemm_assign`; work per vector is ~2√(n_probe·k)
    instead of k. ``n_blocks`` defaults to ⌈√(n_probe·k)⌉ — the
    balance point of the block scan vs the within-block scans."""
    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    crows = _collect_centroids(
        centroids, (centroid_id_col, centroid_vec_col)
    )
    _c_ids, kernel = _build_kernel(crows, n_probe, n_blocks)

    out_schema = f"{id_col} long, {centroid_id_col} long"

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            mn = np.linalg.norm(M, axis=1)
            zero_rows = mn == 0.0
            Mn = M / np.where(zero_rows, 1.0, mn)[:, None]
            yield pd.DataFrame(
                {id_col: ids, centroid_id_col: kernel(Mn, zero_rows)}
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        assign, out_schema
    )


def assign_mean_partials(
    embeddings: DataFrame,
    centroids: DataFrame,
    n_probe: int | None = None,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One corpus pass fusing ASSIGNMENT and the mean UPDATE's partial
    sums — the Lloyd-sweep shape that never shuffles the corpus
    (round 13): per Arrow batch, assign every vector (flat GEMM when
    ``n_probe`` is None, blocked probe otherwise) and emit one
    (centroid_id, n, sums array<double>) row per centroid the batch
    touched. Downstream aggregation handles ≤ batches×k rows — never
    n — so a refine sweep is a single corpus SCAN plus a
    corpus-independent shuffle (the old sweep joined the n-row
    assignment back to the corpus and posexploded n·d rows).
    Unnormalized ORIGINAL vectors are summed (the mean is over raw
    member vectors, matching the previous sweep semantics)."""
    crows = _collect_centroids(centroids, ("centroid_id", "centroid_vec"))
    c_ids, kernel = _build_kernel(crows, n_probe, n_blocks)
    id_to_dense = {int(c): i for i, c in enumerate(c_ids)}
    k = len(c_ids)

    out_schema = "centroid_id long, n long, sums array<double>"

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            mn = np.linalg.norm(M, axis=1)
            zero_rows = mn == 0.0
            Mn = M / np.where(zero_rows, 1.0, mn)[:, None]
            bid = kernel(Mn, zero_rows)
            dense = np.fromiter(
                (id_to_dense[int(b)] for b in bid),
                dtype=np.int64,
                count=len(bid),
            )
            counts = np.bincount(dense, minlength=k)
            sums = np.zeros((k, M.shape[1]))
            np.add.at(sums, dense, M)
            hit = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {
                    "centroid_id": c_ids[hit],
                    "n": counts[hit].astype(np.int64),
                    "sums": [sums[i].tolist() for i in hit],
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        partials, out_schema
    )
