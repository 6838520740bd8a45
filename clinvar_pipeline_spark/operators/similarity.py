"""Similarity search over embedding columns.

Brute-force cosine top-k (:func:`brute_force_topk`, the exact baseline
and test oracle; queries.q_topk_cosine has the oracle-checked
formulation) plus the scale paths, one implementation each:

- sign-LSH top-k and near-dup pairs (:func:`ann_topk_lsh_q`,
  :func:`lsh_neardup_pairs_q`) — candidates from an equi-join on
  bucket ids, never a cross product; multi-probe also probes buckets
  at Hamming distance 1;
- IVF top-k (:func:`ann_topk_ivf`) — k-means coarse cells, queries
  probe their nearest cells;
- PQ / IVF-PQ top-k (:func:`ann_topk_pq`) — a bounded query batch
  scans the byte-coded corpus with lookup tables;
- SemDeDup (:func:`semantic_dedup`) — intra-cell near-dup drop list.

Every scale path is engine-portable: vectors are rounded onto the Q6
integer lattice (:func:`_q6_unit_np`), so each dot product is exact in
any summation order and every tie is broken explicitly. The DuckDB
twins in functions/kmeans_oracle.py and functions/lsh_oracle.py
reproduce their rows bit-for-bit. Candidate exchanges move ids and
bucket/cell keys only; vectors attach after the pairs are deduped
(:func:`_scored_pair_dots`). The float trainers and save/load helpers
serve the cross-session index lifecycle (--corpusPrep lands float
books; the operators re-quantize them exactly).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clinvar_pipeline_spark.caching import memo, register_persist
from clinvar_pipeline_spark.functions.hashes import (
    cosine_similarity,
    dot_product_batch,
)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors of every query over the full corpus
    (cross join + window). O(|Q|*|C|) — the correctness baseline and
    the right choice when |Q| is small and the corpus is broadcast."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("nn_id"), F.col(vec_col).alias("cv"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("nn_id"))
        .select(
            "query_id",
            "nn_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("nn_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "nn_id", "cos_sim", "rk")
    )


def _corpus_count(corpus: DataFrame) -> int:
    """Row count of the corpus, memoized on it (caching.memo) so
    repeated invocations don't re-scan. Feeds the derived
    ``num_cells`` default."""
    return memo(("corpus_count",), corpus, corpus.count)


def _derived_num_cells(n: int) -> int:
    """FAISS-practice default: ~sqrt(N) coarse cells, so expected cell
    width is ~sqrt(N) and both the assignment cost (O(N * cells)) and
    the per-cell quadratic work stay balanced as the corpus grows — a
    100x corpus gets 10x more cells, not 100x wider ones (which would
    otherwise run head-first into cell_cap). Floor of 4 keeps tiny
    test corpora from degenerating to one mega-cell."""
    return max(4, int(round(n ** 0.5)))


_Q6 = 1_000_000.0  # quantization scale: 6 decimal digits


def _q6_unit_np(V: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Q6 unit quantization: ``xq = floor(x·1e6 + 0.5)`` then
    ``u = floor(xq/‖xq‖·1e6 + 0.5)`` — every component an
    INTEGER-VALUED float64. Returns (U, nonzero_mask).

    Why integers-as-doubles: a dot product or sum of integer-valued
    doubles whose partials stay below 2^53 is EXACT in IEEE 754 —
    independent of accumulation order, SIMD blocking, or engine. That
    makes every downstream dot/argmax/mean bit-identical between
    numpy, Spark's zip_with/aggregate fold, and DuckDB's
    list_dot_product — the property the float cosine path can never
    have (the k-means root cause behind the rows-only ANN family).
    The remaining ops (sqrt, one division, ·1e6, +0.5, floor) are
    single correctly-rounded IEEE ops both engines spell identically
    (the qround discipline, queries.qround).

    Exactness bound: d·(|x|·1e6)² < 2^53 ⇒ |x| < sqrt(9.0e15/(d·1e12))
    (≈11.8 at d=64) — asserted, the caller rescales otherwise."""
    if V.size == 0:
        return V, np.zeros(0, dtype=bool)
    d = V.shape[1]
    lim = (9.0e15 / (d * 1e12)) ** 0.5
    if np.abs(V).max() >= lim:
        # ValueError (not assert): under python -O an assert vanishes
        # and oversized components would silently void the bit-for-bit
        # oracle-parity guarantee instead of failing loudly.
        raise ValueError(
            f"component magnitude {np.abs(V).max():.3g} >= {lim:.3g} breaks "
            f"Q6 integer-exactness at dim {d}; rescale the embedding"
        )
    Xq = np.floor(V * _Q6 + 0.5)
    n2 = np.einsum("ij,ij->i", Xq, Xq)  # integer-exact at any order
    nz = n2 > 0
    U = np.zeros_like(Xq)
    U[nz] = np.floor(Xq[nz] / np.sqrt(n2[nz])[:, None] * _Q6 + 0.5)
    return U, nz


def _train_centroids_q6(
    corpus: DataFrame,
    vec_col: str,
    num_cells: int,
    train_sample: int,
    lloyd_iters: int,
    id_col: str | None = None,
) -> np.ndarray:
    """Deterministic, ENGINE-PORTABLE k-means coarse quantizer: Q6
    integer arithmetic end-to-end (see _q6_unit_np), strided init,
    first-max tie-breaks. Returns a (k, dim) matrix of Q6
    integer-valued float64 centroids (unit vectors scaled by 1e6).

    The pagerank discipline (queries_warehouse.q_pagerank) applied to
    a numeric fixpoint with a twist: instead of DECIMAL sums +
    per-step qround, ALL state lives on the 10^-6 lattice so plain
    float64 arithmetic is already exact —
    - init: centroid j = sample row floor(j·n/k) of the id-ordered
      sample (strided — deterministic, no RNG);
    - assignment: argmax of integer dot products, ties to the LOWEST
      cell (np.argmax first-max == SQL row_number ORDER BY dot DESC,
      cell ASC);
    - update: per-component integer member sums (exact), mean
      rounded back to integers via floor(S/n + 0.5) BEFORE normalizing (keeping
      the norm input integer), then floor(mq/‖mq‖·1e6 + 0.5);
    - empty or zero-norm cells keep their previous centroid.
    Every step unrolls to ANSI SQL (functions/kmeans_oracle.py), so a
    DuckDB oracle reproduces cells — and everything downstream of
    them — bit-for-bit at any SF.

    Sample/memo semantics: ≤ train_sample smallest ids when id_col is
    given (TakeOrdered — partitioning-independent), memoized on the
    corpus and these parameters (caching.memo; see the r5 bench
    regression): a rewritten corpus retrains."""
    key = ("ivf_centroids_q6", vec_col, num_cells, train_sample, lloyd_iters, id_col)
    X = lambda: _training_sample(corpus, vec_col, train_sample, id_col)
    return memo(key, corpus, lambda: _lloyd_q6(X(), num_cells, lloyd_iters))


def _training_sample(
    corpus: DataFrame, vec_col: str, train_sample: int, id_col: str | None
) -> np.ndarray:
    """≤ train_sample vectors: the smallest ids when id_col is given."""
    sel = corpus.select(
        *([F.col(id_col)] if id_col else []),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    if id_col:
        sel = sel.orderBy(id_col)
    return np.asarray(
        [r["_v"] for r in sel.limit(train_sample).collect()],
        dtype=np.float64,
    )


def _lloyd_q6(X: np.ndarray, num_cells: int, lloyd_iters: int) -> np.ndarray:
    """:func:`_train_centroids_q6`'s integer k-means over a sample."""
    U, nz = _q6_unit_np(X)
    U = U[nz]  # zero vectors can't vote for a direction
    n = len(U)
    if n == 0:
        raise ValueError("k-means training sample is empty (all-zero vectors?)")
    k = min(num_cells, n)
    C = U[(np.arange(k) * n) // k].copy()
    for _ in range(lloyd_iters):
        assign = np.argmax(U @ C.T, axis=1)  # exact dots; first-max ties
        for ci in range(k):
            members = U[assign == ci]
            if not len(members):
                continue
            S = members.sum(axis=0)  # integer-exact (< 2^53)
            mq = np.floor(S / len(members) + 0.5)
            nn2 = float(np.einsum("i,i->", mq, mq))
            if nn2 > 0:
                C[ci] = np.floor(mq / np.sqrt(nn2) * _Q6 + 0.5)
    return C  # (k, dim), Q6 integer-valued unit directions


def _train_centroids(
    corpus: DataFrame,
    vec_col: str,
    num_cells: int,
    train_sample: int,
    lloyd_iters: int,
    id_col: str | None = None,
) -> np.ndarray:
    """Coarse quantizer as the float matrix the CLI's --corpusPrep
    lands and the drift monitor reads: the Q6 integer centroids of
    :func:`_train_centroids_q6` divided back to ~unit-norm float64
    (‖centroid‖ ∈ [1-1e-6, 1+1e-6]). The integer k-means is
    deterministic (strided init, integer Lloyd steps), so the
    quantizer for a given corpus is unique, which is what an INDEX
    should be (retrains can't silently re-cluster); ann_topk_ivf /
    ann_topk_pq / semantic_dedup re-quantize a loaded float matrix
    exactly (floor(c·1e6 + 0.5) recovers the integers)."""
    return _train_centroids_q6(
        corpus, vec_col, num_cells, train_sample, lloyd_iters, id_col=id_col
    ) / _Q6


def save_centroids(spark, C: np.ndarray, path: str) -> None:
    """Persist a trained coarse quantizer as parquet (cell id +
    unit-norm vector). The production lifecycle of an IVF index: the
    quantizer is trained once per corpus build and SERVED across
    sessions/jobs — the session memo (caching.memo) covers one
    process, this covers the fleet. Cell ids are explicit so a loaded
    matrix reproduces assignments bit-for-bit."""
    rows = [(i, [float(x) for x in C[i]]) for i in range(len(C))]
    spark.createDataFrame(
        rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> np.ndarray:
    """Load a quantizer saved by :func:`save_centroids` back into the
    (num_cells, dim) matrix ann_topk_ivf / semantic_dedup accept via
    ``centroids=``. Bounded driver collect — an index is
    quantizer-sized, not corpus-sized."""
    rows = spark.read.parquet(path).orderBy("cell").collect()
    if [r["cell"] for r in rows] != list(range(len(rows))):
        raise ValueError(f"centroid table at {path} has gaps")
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def save_pq_codebooks(spark, books: np.ndarray, path: str) -> None:
    """Persist PQ codebooks (n_subspaces, pq_k, dsub) as parquet —
    the PQ half of the index lifecycle next to save_centroids. One
    row per (subspace, code) centroid so a load reproduces encodings
    bit-for-bit."""
    M, K, _ = books.shape
    rows = [
        (m, j, [float(x) for x in books[m, j]])
        for m in range(M)
        for j in range(K)
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def assignment_distance_stats(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> dict:
    """Quantization-quality fingerprint of an IVF index against a
    corpus: mean and p95 ASSIGNMENT DISTANCE (1 - cosine to the
    nearest centroid) plus the row count, in ONE aggregate over the
    served corpus (map-only Arrow kernel -> 3-row agg; no shuffle of
    anything row-sized). Recorded at train time next to the saved
    index (save_index_stats) and recomputed at serve time by
    index_drift_ratio: when the corpus the index serves drifts away
    from the corpus it was trained on, vectors sit farther from every
    centroid and this statistic rises — the standard IVF monitoring
    signal (recall degrades monotonically with assignment distance).
    Zero-norm vectors are excluded (they have no direction to drift)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @pandas_udf("double")
    def assign_dist(s: pd.Series) -> pd.Series:
        V = np.asarray(s.tolist(), dtype=np.float64)
        if V.size == 0:
            return pd.Series([], dtype="float64")
        n = np.linalg.norm(V, axis=1, keepdims=True)
        ok = n[:, 0] > 0
        out = np.full(len(V), np.nan)
        if ok.any():
            U = V[ok] / n[ok]
            out[ok] = 1.0 - np.max(U @ Cn.T, axis=1)
        return pd.Series(out)

    row = (
        corpus.select(
            assign_dist(F.col(vec_col).cast("array<double>")).alias("d")
        )
        .filter(F.col("d").isNotNull())
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("d").alias("mean_dist"),
            F.percentile_approx("d", 0.95).alias("p95_dist"),
        )
        .collect()[0]
    )
    return {
        "n": int(row["n"]),
        "mean_dist": float(row["mean_dist"] or 0.0),
        "p95_dist": float(row["p95_dist"] or 0.0),
    }


def save_index_stats(spark, stats: dict, path: str) -> None:
    """Land the training-time assignment-distance fingerprint next to
    the index artifact (one 1-row parquet) — the baseline
    index_drift_ratio compares serve-time corpora against."""
    spark.createDataFrame(
        [(int(stats["n"]), float(stats["mean_dist"]), float(stats["p95_dist"]))],
        "n long, mean_dist double, p95_dist double",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_index_stats(spark, path: str) -> dict:
    row = spark.read.parquet(path).collect()[0]
    return {
        "n": int(row["n"]),
        "mean_dist": float(row["mean_dist"]),
        "p95_dist": float(row["p95_dist"]),
    }


# Tightened 1.25 -> 1.10 (r11, measured — tools/ann_probe.py --drift,
# ANN_PROBE.json): on a high-entropy corpus the ratio SATURATES near
# the random-direction ceiling (~1.12 observed at noise mix eps=3, vs
# train mean dist 0.644), so a 1.25 threshold could never fire there
# while stale-index recall@5 slid 0.652 -> 0.571 (-12% relative). At
# ratio ~1.10 the measured slide is ~-10% and retraining on the
# shifted corpus recovers recall (the probe's retrained_at_worst
# rung) — so 1.10 is the last ratio where the monitor still fires
# before the saturation regime swallows the signal. Cluster-structured
# corpora (tests/test_index_drift.py) sit far above either value on a
# true distribution shift and far below on a redraw, so the tightening
# costs no false positives there.
DRIFT_RETRAIN_THRESHOLD = 1.10


def index_drift_ratio(
    corpus: DataFrame,
    centroids: np.ndarray,
    train_stats: dict,
    vec_col: str = "embedding",
) -> float:
    """Serve-time drift monitor (r9 verdict ask #7): the ratio of the
    served corpus's mean assignment distance to the training-time
    mean. ~1.0 = the index still fits its corpus; above
    DRIFT_RETRAIN_THRESHOLD (1.10 since r11 — the measured knee before
    the ratio saturates on high-entropy corpora; see the constant)
    the caller should retrain (--corpusPrep does, landing a fresh
    index + stats). One bounded aggregate; safe to run per serve job."""
    serve = assignment_distance_stats(corpus, centroids, vec_col)
    base = max(train_stats["mean_dist"], 1e-9)
    return serve["mean_dist"] / base


def load_pq_codebooks(spark, path: str) -> np.ndarray:
    """Load codebooks saved by :func:`save_pq_codebooks` into the
    (n_subspaces, K, dsub) array ann_topk_pq accepts via
    ``codebooks=``. Bounded driver collect (codebooks are KBs)."""
    rows = spark.read.parquet(path).orderBy("subspace", "code").collect()
    M = 1 + max(r["subspace"] for r in rows)
    K = len(rows) // M
    if len(rows) != M * K:
        raise ValueError(f"codebook table at {path} is ragged")
    dsub = len(rows[0]["centroid"])
    out = np.empty((M, K, dsub))
    for r in rows:
        out[r["subspace"], r["code"]] = r["centroid"]
    return out


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.95,
    num_cells: int | None = None,
    train_sample: int = 10000,
    lloyd_iters: int = 5,
    cell_cap: int = 100_000,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then inside
    each cluster drop every vector that has a lower-id neighbor with
    cosine ≥ ``tau``. Returns the DROPPED rows as
    ``(vec_id, kept_by, sim)`` where ``kept_by`` is the smallest-id
    same-cluster neighbor above threshold (the surviving
    representative) and ``sim`` the cosine to it; survivors are the
    complement (an anti-join the caller composes).

    Greedy-by-id is the standard parallel approximation of SemDeDup's
    sequential scan: a vector is dropped iff ANY earlier (smaller-id)
    in-cluster vector is within tau — no iterative
    connected-components pass, so the whole operator is two narrow
    shuffles (cell assignment is map-only; the pair join keys on
    cell).

    Scale: candidates come from the intra-cell equi-join, never
    all-pairs; per-cell work is quadratic in cell size, so cells
    beyond ``cell_cap`` members are excluded from the pair join (the
    BLOCK_CAP discipline of queries.embedding_neardup_pairs — oversize
    cells mean num_cells is undersized for the corpus; the lazy guard
    keeps one mega-cell from owning a 100x scale-up). num_cells
    defaults to ~sqrt(N) derived from a memoized corpus count (FAISS
    practice), keeping expected cell width ~sqrt(N) as the corpus
    grows; pass an explicit num_cells to pin it.

    The corpus count and trained centroids are memoized on the corpus
    across invocations (caching.memo, see _train_centroids_q6): a
    second call over the same files runs neither job again.
    ``centroids`` bypasses training entirely with a pre-trained quantizer
    (save_centroids/load_centroids — the cross-session index
    lifecycle).

    Engine-portable: cells and pair cosines are both computed on the
    Q6 integer lattice (_q6_unit_np), so the full drop-list — ids,
    keepers, AND sims — is reproducible bit-for-bit by the DuckDB twin
    (functions/kmeans_oracle.py); the quantization perturbs each
    cosine by < 1e-5, far inside any sensible tau. Zero-norm vectors
    (cosine undefined) are excluded from the search."""
    if num_cells is None and centroids is None:
        num_cells = _derived_num_cells(_corpus_count(corpus))
    from typing import Iterator as _It

    if centroids is not None:
        Cq = np.floor(np.asarray(centroids, dtype=np.float64) * _Q6 + 0.5)
    else:
        Cq = _train_centroids_q6(
            corpus, vec_col, num_cells, train_sample, lloyd_iters,
            id_col=id_col,
        )

    def assign_q(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
            U, nzm = _q6_unit_np(V)
            if not nzm.any():
                continue  # empty frame would type _qv float64, not list
            cell = np.argmax(U @ Cq.T, axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy()[nzm],
                    "_cell": cell[nzm],
                    "_qv": [row.tolist() for row in U[nzm]],
                }
            )

    # persisted: the assignment kernel output feeds the oversize
    # guard AND both sides of the pair join — without a persist the
    # Arrow kernel reruns once per plan branch
    assigned = register_persist(
        corpus.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ).mapInPandas(assign_q, "_id long, _cell int, _qv array<double>")
    )
    # exact integer dot, Arrow-batched (r11 — see _rerank_topk_q:
    # every partial sum < 2^53 so any summation order yields the
    # identical double); nondeterministic so the pushed-down tau
    # filter can't duplicate the kernel (guide §4.4).
    # r12: the _scored_pair_dots gather-by-id shape was measured
    # here and REJECTED — in-cell pair volume is ~sqrt(N)·N/2, far
    # below the rerank family's bucket fan-out, so the bounded-
    # collect actions cost more than the slimmer boundary saves
    # (paired A/B at sf0.1: warm 1.06-1.22 join-attach vs
    # 1.30-1.31 gathered). Vectors keep riding the cell self-join.
    sim_dot = dot_product_batch().asNondeterministic()(
        F.col("a._qv"), F.col("b._qv")
    )
    sim_out = (
        F.floor(F.col("_dot") / F.lit(1.0e12) * F.lit(1.0e6) + F.lit(0.5))
        / F.lit(1.0e6)
    )
    oversize = (
        assigned.groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > cell_cap)
        .select("_cell")
    )
    assigned = assigned.join(F.broadcast(oversize), "_cell", "left_anti")
    a = assigned.alias("a")
    b = assigned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._cell") == F.col("b._cell"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("b._id").alias(id_col),
            F.col("a._id").alias("_keeper"),
            sim_dot.alias("_dot"),
        )
        # tau·1e12 is the same single IEEE multiply the SQL twin spells
        .filter(F.col("_dot") >= F.lit(tau) * F.lit(1.0e12))
        .select(id_col, "_keeper", sim_out.alias("_sim"))
    )
    # smallest-id qualifying neighbor wins; its sim rides along in the
    # struct-min (lexicographic on (_keeper, _sim); _keeper is unique
    # per (vec_id, keeper) pair so _sim never decides)
    pick = F.min(F.struct("_keeper", "_sim")).alias("_m")
    return (
        pairs.groupBy(id_col)
        .agg(pick)
        .select(
            id_col,
            F.col("_m._keeper").alias("kept_by"),
            F.col("_m._sim").alias("sim"),
        )
    )


def pq_subspaces_for_dim(dim: int, max_subspaces: int = 8) -> int:
    """Largest divisor of ``dim`` that is <= ``max_subspaces`` — the
    widest PQ split the vector admits (subspaces must tile the vector
    exactly; Jégou et al. use m=8 for d=64/128). Callers that don't
    control the corpus dim (the CLI's --corpusPrep, which indexes
    whatever embedding column the layout ships) use this instead of a
    hardcoded m so a dim-4 or dim-6 corpus trains a valid (narrower)
    codebook rather than raising."""
    for m in range(min(max_subspaces, dim), 0, -1):
        if dim % m == 0:
            return m
    return 1


def _train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    n_subspaces: int,
    pq_k: int,
    train_sample: int,
    lloyd_iters: int,
    id_col: str | None = None,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search") as the float book the
    CLI's --corpusPrep lands: the Q6 integer codebooks of
    :func:`_train_pq_codebooks_q6` divided back to unit scale.
    :func:`ann_topk_pq` re-quantizes a loaded float book exactly
    (floor(b·1e6 + 0.5) recovers the integers), so the landed pq_index
    artifact and an in-session training serve identical codes.
    Returns (n_subspaces, K, dim/n_subspaces) float64."""
    return _train_pq_codebooks_q6(
        corpus, vec_col, n_subspaces, pq_k, train_sample, lloyd_iters,
        id_col=id_col,
    ) / _Q6


def ann_topk_pq(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_subspaces: int = 8,
    pq_k: int = 256,
    rerank: int | None = None,
    train_sample: int = 10000,
    lloyd_iters: int = 5,
    max_queries: int = 10000,
    ivf: bool = False,
    num_cells: int | None = None,
    n_probe_cells: int | None = None,
    codebooks: np.ndarray | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Product-quantization ANN — the SERVE path: a bounded query set
    (collected driver-side, ``max_queries`` guard — query batches are
    benchmark-sized by definition, the same closure-capture budget as
    decontaminate's eval set) scans the M-byte-per-vector code table
    with asymmetric distance computation (ADC), then the top
    ``rerank`` candidates per query get an exact re-rank.

    Plan shape at 100 TB: the driver builds the M x pq_k dot-lookup
    table per query once and ships it in the closure; the scan is
    mapInPandas over the ENCODED corpus — each task scores its
    partition's codes via table lookups (no vectors touched) and emits
    only its local top-``rerank`` per query (map-side partial top-k).
    One narrow shuffle of (n_partitions x n_queries x rerank) id rows
    picks the global candidate pool; the re-rank joins vectors for
    just those rows. Nothing vector-sized is ever shuffled, and the
    scan reads M bytes per corpus row.

    Engine-portable end to end: codebooks, codes, ADC scores and the
    re-rank all live on the Q6 integer lattice (_q6_unit_np) with
    every selection tie-broken (score DESC, nn_id ASC), so the DuckDB
    twin (functions/kmeans_oracle.py) reproduces the rows
    bit-for-bit. cos_sim is the lattice cosine (within 1e-5 of
    exact); zero-norm vectors are excluded. Self matches are masked
    INSIDE the scan (not post-filtered) so the partial top-k is the
    exact superset of the global one the SQL computes.

    ``ivf=True`` composes the coarse quantizer on top (the FAISS
    IndexIVFPQ shape): the encode kernel also emits each vector's
    cell, the scan input is pre-filtered to the UNION of the batch's
    probed cells (a JVM-side isin the parquet/batch reader can prune
    early — with cell-partitioned storage this becomes partition
    pruning), and each query only scores candidates inside its own
    probed cells (per-chunk boolean mask). With ``n_probe_cells ==
    num_cells`` the mask is all-true and results are identical to the
    pure scan — pinned by test; smaller probes trade recall for scan
    fraction exactly like ann_topk_ivf.

    ``codebooks`` (and, with ``ivf=True``, ``centroids``) serve a
    PRE-TRAINED index instead of training (save_pq_codebooks /
    load_pq_codebooks + save_centroids/load_centroids — the full
    IndexIVFPQ state round-trips across sessions; the CLI's
    --corpusPrep lands both as out/pq_index + out/ivf_index)."""
    from typing import Iterator as _It

    if rerank is None:
        rerank = max(4 * k, 16)
    if codebooks is not None:
        Bq = np.floor(np.asarray(codebooks, dtype=np.float64) * _Q6 + 0.5)
    else:
        Bq = _train_pq_codebooks_q6(
            corpus, vec_col, n_subspaces, pq_k, train_sample, lloyd_iters,
            id_col=id_col,
        )
    M, K, dsub = Bq.shape

    q_rows = (
        queries.select(
            F.col(id_col).alias("_qid"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        )
        .orderBy("_qid")
        .limit(max_queries + 1)
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ann_topk_pq serves bounded query batches (max_queries="
            f"{max_queries}); for corpus-scale self-search use "
            "ann_topk_ivf/ann_topk_lsh_q"
        )
    if not q_rows:
        return queries.sparkSession.createDataFrame(
            [], "query_id long, nn_id long, cos_sim double, rk int"
        )
    qids_all = np.asarray([r["_qid"] for r in q_rows])
    Qm = np.asarray([r["_qv"] for r in q_rows], dtype=np.float64)
    Uq, qnz = _q6_unit_np(Qm)
    qids, Uq = qids_all[qnz], Uq[qnz]  # zero-norm queries excluded
    # LUT[q, m, j] = <query subvector, codebook centroid> — exact ints
    LUT = np.einsum("qmd,mjd->qmj", Uq.reshape(len(Uq), M, dsub), Bq)

    probe_mask = None
    probed_union: list[int] = []
    Cq = None
    if ivf:
        if centroids is not None:
            Cq = np.floor(
                np.asarray(centroids, dtype=np.float64) * _Q6 + 0.5
            )
        else:
            if num_cells is None:
                num_cells = _derived_num_cells(_corpus_count(corpus))
            Cq = _train_centroids_q6(
                corpus, vec_col, num_cells, train_sample, lloyd_iters,
                id_col=id_col,
            )
        npr = n_probe_cells if n_probe_cells else max(4, len(Cq) // 4)
        npr = min(npr, len(Cq))
        sims = Uq @ Cq.T  # exact ints
        # stable sort on -sims keeps ascending cell among ties — the
        # SQL row_number (dot DESC, cell ASC); argpartition would pick
        # arbitrarily at tied boundaries
        probe = np.argsort(-sims, axis=1, kind="stable")[:, :npr]
        probe_mask = np.zeros((len(Uq), len(Cq)), dtype=bool)
        probe_mask[np.arange(len(Uq))[:, None], probe] = True
        probed_union = sorted(int(c) for c in np.unique(probe))

    def enc_q(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
            U, nzm = _q6_unit_np(V)
            U = U[nzm]
            if not len(U):
                continue
            codes = _pq_encode_q(U, Bq)
            out = {
                "nn_id": pdf["_id"].to_numpy()[nzm],
                "code": [row.tobytes() for row in codes],
                "_qv": [row.tolist() for row in U],
            }
            if Cq is not None:
                out["cell"] = np.argmax(U @ Cq.T, axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    enc_schema = "nn_id long, code binary, _qv array<double>" + (
        ", cell int" if ivf else ""
    )
    enc = register_persist(
        corpus.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ).mapInPandas(enc_q, enc_schema)
    )
    scan_in = (
        enc.filter(F.col("cell").isin(probed_union)).select(
            "nn_id", "code", "cell"
        )
        if ivf
        else enc.select("nn_id", "code")
    )

    # chunk the query axis so per-task peak memory is bounded by
    # Q_CHUNK x arrow-batch-rows doubles (~20 MB at defaults)
    # regardless of how close the batch sits to max_queries — an
    # unchunked 10k x 10k float64 scores matrix is ~800 MB per
    # in-flight batch and OOMs executors before the guard helps
    Q_CHUNK = 256

    def scan_q(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            # sort batch rows by nn_id so a stable sort on -scores
            # breaks ties toward the SMALLER nn_id (== SQL ORDER BY
            # adc DESC, nn_id ASC)
            pdf = pdf.sort_values("nn_id", kind="stable")
            codes = np.frombuffer(
                b"".join(pdf["code"]), dtype=np.uint8
            ).reshape(len(pdf), M)
            ids = pdf["nn_id"].to_numpy()
            cells = pdf["cell"].to_numpy() if probe_mask is not None else None
            r = min(rerank, len(ids))
            for q0 in range(0, len(qids), Q_CHUNK):
                lut = LUT[q0 : q0 + Q_CHUNK]
                # ADC: score[q, x] = sum_m lut[q, m, codes[x, m]] —
                # one vectorized gather per subspace
                scores = np.zeros((len(lut), len(ids)))
                for m in range(M):
                    scores += lut[:, m, :][:, codes[:, m]]
                # self matches masked HERE so the partial top-k is the
                # exact superset of the SQL's global (self-excluded) one
                scores = np.where(
                    ids[None, :] == qids[q0 : q0 + Q_CHUNK, None],
                    -np.inf,
                    scores,
                )
                if cells is not None:
                    # IVF: a query only scores candidates in its own
                    # probed cells (the union filter upstream already
                    # dropped cells nobody probes)
                    scores = np.where(
                        probe_mask[q0 : q0 + Q_CHUNK][:, cells],
                        scores,
                        -np.inf,
                    )
                top = np.argsort(-scores, axis=1, kind="stable")[:, :r]
                adc = np.take_along_axis(scores, top, axis=1).ravel()
                keep = np.isfinite(adc)
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(
                            qids[q0 : q0 + Q_CHUNK], r
                        )[keep],
                        "nn_id": ids[top].ravel()[keep],
                        "adc": adc[keep],
                    }
                )

    partial = scan_in.mapInPandas(
        scan_q, "query_id long, nn_id long, adc double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("nn_id"))
    pool = (
        partial.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= rerank)
        .select("query_id", "nn_id")
    )
    cv = enc.select(F.col("nn_id").alias("_id"), "_qv")
    if queries is corpus:
        qv = cv
    else:
        # bounded query batch (<= max_queries, already on the driver)
        qv = queries.sparkSession.createDataFrame(
            [(int(i), [float(x) for x in u]) for i, u in zip(qids, Uq)],
            "_id long, _qv array<double>",
        )
    # gather=False: the PQ rerank pool is <= rerank per query, far too
    # small to repay the gather's bounded-collect actions (see the
    # _rerank_topk_q note) — keep the r11 join-attach shape here
    return _rerank_topk_q(pool, qv, cv, k, gather=False)


def ann_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_cells: int | None = None,
    n_probe_cells: int | None = None,
    train_sample: int = 10000,
    lloyd_iters: int = 5,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization:
    k-means cells over a bounded training sample, corpus rows assigned
    to their nearest cell, queries probe their ``n_probe_cells``
    nearest cells, exact re-rank inside the probed cells.

    Centroid training collects ≤``train_sample`` vectors to the driver
    and runs a few Lloyd iterations in numpy — bounded, deterministic
    (strided init, integer Lloyd steps; _train_centroids_q6), and
    standard IVF practice: the quantizer is trained on a sample,
    applied distributively. Assignment and probe ranking are one
    map-only Arrow pass per partition against the closure-captured
    centroid matrix.

    Engine-portable end to end: quantizer, cell assignment, probe
    ranking AND the final re-rank all run on the Q6 integer lattice
    (_q6_unit_np) — every dot product exact, every tie broken (dot
    DESC, id/cell ASC) — so the emitted (query_id, nn_id, cos_sim, rk)
    rows are reproducible bit-for-bit by the DuckDB twin
    (functions/kmeans_oracle.py). cos_sim is the Q6-lattice cosine
    (within 1e-5 of exact); zero-norm vectors are excluded.

    Scale: the candidate join moves only (id, cell); expected candidate
    fraction ~= n_probe_cells / num_cells of the corpus, concentrated
    on the query's neighborhood (spatially coherent, unlike LSH's
    hash-uniform buckets). Cell skew (dense regions) is the known cost
    — AQE skew-join splits hot cells.

    num_cells defaults to ~sqrt(N) from a memoized corpus count and
    n_probe_cells to num_cells/4 (preserving the probed-fraction —
    and so the recall/cost point — as the corpus scales); pass
    explicit values to pin either. Count and centroids are memoized on
    the corpus across invocations (caching.memo, see
    _train_centroids_q6); ``centroids`` serves a pre-trained quantizer
    (save_centroids/load_centroids — the cross-session index
    lifecycle) and skips training."""
    from typing import Iterator as _It

    if centroids is not None:
        Cq = np.floor(np.asarray(centroids, dtype=np.float64) * _Q6 + 0.5)
    else:
        if num_cells is None:
            num_cells = _derived_num_cells(_corpus_count(corpus))
        Cq = _train_centroids_q6(
            corpus, vec_col, num_cells, train_sample, lloyd_iters,
            id_col=id_col,
        )
    if n_probe_cells is None:
        n_probe_cells = max(4, len(Cq) // 4)
    # clamped: the trained cell count is min(num_cells, len(sample)),
    # which a tiny corpus can push below n_probe_cells
    npr = min(n_probe_cells, len(Cq))

    def probe_q(batches: _It[pd.DataFrame], width: int) -> _It[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
            U, nzm = _q6_unit_np(V)
            U = U[nzm]
            if not len(U):
                continue
            dots = U @ Cq.T  # integer-exact
            # stable sort on -dots: ties keep ascending cell order —
            # the numpy twin of SQL row_number (dot DESC, cell ASC);
            # argpartition would pick arbitrarily among boundary ties
            order = np.argsort(-dots, axis=1, kind="stable")[:, :width]
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy()[nzm],
                    "_pc": [row.tolist() for row in order.astype(np.int32)],
                    "_qv": [row.tolist() for row in U],
                }
            )

    schema = "_id long, _pc array<int>, _qv array<double>"
    side = lambda df, width: register_persist(
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ).mapInPandas(lambda it: probe_q(it, width), schema)
    )
    if queries is corpus:
        # one kernel pass serves both roles: the ranked probe list's
        # head IS the argmax cell assignment (same ordering rule)
        c_side = q_side = side(corpus, npr)
    else:
        # the corpus side keeps only the head of its ranking: its cell
        c_side, q_side = side(corpus, 1), side(queries, npr)
    c_cells = c_side.select(
        F.col("_id").alias("nn_id"), F.col("_pc").getItem(0).alias("cell")
    )
    q_cells = q_side.select(
        F.col("_id").alias("query_id"), F.explode("_pc").alias("cell")
    )
    pairs = (
        q_cells.join(c_cells, "cell")
        .filter(F.col("query_id") != F.col("nn_id"))
        .select("query_id", "nn_id")
        .dropDuplicates(["query_id", "nn_id"])
    )
    return _rerank_topk_q(pairs, q_side, c_side, k)


def _gather_qv_matrix(side: DataFrame):
    """Bounded per-invocation collect of an (``_id``, ``_qv``) relation
    as ``(sorted ids int64, matrix float64)``, or ``None`` when the
    relation outgrows the session's autoBroadcastJoinThreshold (or
    broadcast is disabled) — the same bound, and the same driver
    round-trip, the join-attach shape already pays: each of its two
    BroadcastExchange builds collects this exact relation to the
    driver per invocation. Nothing is cached across invocations."""
    spark = side.sparkSession
    try:
        thresh = int(
            spark._jsparkSession.sessionState().conf()
            .autoBroadcastJoinThreshold()
        )
    except Exception:
        thresh = 10 * 1024 * 1024  # the Spark default
    if thresh <= 0:
        return None
    head = side.select("_id", "_qv").take(1)
    if not head:
        return np.empty(0, dtype=np.int64), np.empty((0, 0))
    dim = len(head[0]["_qv"])
    cap = max(1, thresh // (8 * dim + 16))
    rows = side.select("_id", "_qv").take(cap + 1)
    if len(rows) > cap:
        return None
    ids = np.array([r["_id"] for r in rows], dtype=np.int64)
    M = np.asarray([r["_qv"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], M[order]


def _gather_dot_udf(spark, mat, nondeterministic: bool = False):
    """Pandas UDF (id_a, id_b) → exact integer Q6 dot, gathering both
    rows from the broadcast (sorted ids, matrix) pair by searchsorted.
    Only the two id columns cross the Python boundary."""
    ids, M = mat
    bc = spark.sparkContext.broadcast((ids, M))
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def dot_gather(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype=np.float64)
        ids_, M_ = bc.value
        qi = np.searchsorted(ids_, a.to_numpy())
        ni = np.searchsorted(ids_, b.to_numpy())
        return pd.Series(np.einsum("ij,ij->i", M_[qi], M_[ni]))

    return dot_gather.asNondeterministic() if nondeterministic else dot_gather


def _scored_pair_dots(
    pairs: DataFrame,
    q_side: DataFrame,
    c_side: DataFrame,
    a_col: str,
    b_col: str,
    nondeterministic: bool = False,
    gather: bool = True,
) -> DataFrame:
    """(a, b) id pairs → (a, b, _dot) with the exact integer Q6 dot,
    shared by the LSH/IVF/PQ re-ranks and the near-dup pair scorer.

    Two data-driven shapes (guide §8: decide how the proxy's decisions
    re-attach to the payload):

    - gather-kernel — both sides are the SAME relation and it fits the
      broadcast bound: collect (_id, _qv) once (see _gather_qv_matrix —
      the join shape collects the identical relation TWICE per
      invocation as broadcast builds), ship ONLY the two id columns
      through the Python boundary, and gather rows from the
      task-shared matrix by np.searchsorted. ~16 B/pair crosses Arrow
      instead of 2·dim·8 B/pair — measured at sf0.1 on ann_topk's
      820k candidate pairs: scored-stage Arrow volume ~840 MB → ~13 MB,
      full query warm 1.3-1.9 s → 0.6-0.9 s, outputs bit-identical.
    - join-attach — the 100 TB shape (corpus outgrows the broadcast
      bound, or the sides differ): the r11 shape, two broadcast/hash
      joins attaching vectors + the Arrow dot kernel.

    Exactness is identical in both shapes BY CONSTRUCTION: the gather
    feeds einsum the same integer-valued float64 rows the join would
    attach, and every partial sum stays < 2^53 (the _rerank_topk_q
    bound note), so any summation order yields the identical double."""
    mat = (
        _gather_qv_matrix(q_side)
        if gather and q_side is c_side
        else None
    )
    if mat is not None:
        kern = _gather_dot_udf(pairs.sparkSession, mat, nondeterministic)
        return pairs.select(
            a_col, b_col, kern(F.col(a_col), F.col(b_col)).alias("_dot")
        )
    kern = dot_product_batch()
    if nondeterministic:
        kern = kern.asNondeterministic()
    return (
        pairs.join(
            q_side.select(
                F.col("_id").alias(a_col), F.col("_qv").alias("_qa")
            ),
            a_col,
        )
        .join(
            c_side.select(
                F.col("_id").alias(b_col), F.col("_qv").alias("_qb")
            ),
            b_col,
        )
        .select(
            a_col,
            b_col,
            kern(F.col("_qa"), F.col("_qb")).alias("_dot"),
        )
    )


def _rerank_topk_q(
    pairs: DataFrame,
    q_side: DataFrame,
    c_side: DataFrame,
    k: int,
    gather: bool = True,
) -> DataFrame:
    """Re-rank shared by the LSH/IVF/PQ paths:
    exact integer dot over the Q6 unit vectors (``_id``, ``_qv``
    frames), rank on the RAW dot (ties nn_id ASC), emit the Q6-lattice
    cosine qround'd to 6 plus the int rank.

    r11 (guide §4.1/§4.2): the dot is the Arrow-batched numpy kernel
    (functions.hashes.dot_product_batch), not the interpreted JVM
    zip_with/aggregate fold — measured 5.4 s CPU for the fold stage at
    sf0.1 vs sub-second vectorized. Exactness is unchanged BY
    CONSTRUCTION, not within tolerance: Q6 components are integers
    ≤ ~1.2e6, so every pairwise product is ≤ ~1.44e12 and a 64-term
    sum is ≤ ~9.3e13 < 2^53 — every intermediate in ANY summation
    order is an exactly-representable integer, so einsum's blocked
    reduction and the sequential fold produce the identical double.

    r12 (guide §8/§2.3): the vectors no longer ride every pair row —
    _scored_pair_dots ships id pairs only and gathers vectors from a
    broadcast matrix when the corpus fits the broadcast bound, falling
    back to the r11 join-attach shape at scale. ``gather=False`` keeps
    the join shape outright: the PQ paths' rerank pool is tiny
    (rerank=20 per query), so the gather's bounded-collect actions
    cost more than they save there (paired A/B: pq 1.50→1.65 warm,
    ivfpq 1.43→1.48) while the flat/IVF paths win 14-38%."""
    scored = _scored_pair_dots(
        pairs, q_side, c_side, "query_id", "nn_id", gather=gather
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_dot"), F.asc("nn_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "nn_id",
            (
                F.floor(
                    F.col("_dot") / F.lit(1.0e12) * F.lit(1.0e6) + F.lit(0.5)
                )
                / F.lit(1.0e6)
            ).alias("cos_sim"),
            "rk",
        )
    )


def _train_pq_codebooks_q6(
    corpus: DataFrame,
    vec_col: str,
    n_subspaces: int,
    pq_k: int,
    train_sample: int,
    lloyd_iters: int,
    id_col: str | None = None,
) -> np.ndarray:
    """Deterministic, engine-portable PQ codebooks: per-subspace
    k-means over the Q6 UNIT subvectors with pure integer arithmetic —
    the euclidean sibling of :func:`_train_centroids_q6`. Returns
    (n_subspaces, K, dsub) integer-valued float64 codebooks.

    Parity with the SQL twin (functions/kmeans_oracle.py):
    - sample/init: first train_sample ids, zero-norm rows dropped,
      strided init per subspace (code j <- sample row floor(j·n/K));
    - assignment: argmin of d2 = |s|^2 + |c|^2 - 2 s·c (every term an
      exact integer), ties to the LOWEST code (np.argmin first-min ==
      SQL row_number ORDER BY d2 ASC, code ASC);
    - update: mq = floor(S/n + 0.5) per component, empty cells keep
      their previous centroid — no renormalization (euclidean PQ).
    Bounds: components ≤ ~1.2e6, d2 ≤ dsub·(2.4e6)^2 < 2^53, member
    sums ≤ train_sample·1.2e6 < 2^53 — exact at any order."""
    if pq_k > 256:
        raise ValueError(f"pq_k must be <= 256 (uint8 codes), got {pq_k}")
    key = ("pq_codebooks_q6", vec_col, n_subspaces, pq_k, train_sample,
           lloyd_iters, id_col)
    X = lambda: _training_sample(corpus, vec_col, train_sample, id_col)
    return memo(key, corpus, lambda: _pq_lloyd_q6(X(), n_subspaces, pq_k, lloyd_iters))


def _pq_lloyd_q6(
    X: np.ndarray, n_subspaces: int, pq_k: int, lloyd_iters: int
) -> np.ndarray:
    """:func:`_train_pq_codebooks_q6`'s per-subspace k-means over a sample."""
    U, nz = _q6_unit_np(X)
    U = U[nz]
    n = len(U)
    if n == 0:
        raise ValueError("PQ training sample is empty (all-zero vectors?)")
    d = U.shape[1]
    if d % n_subspaces:
        raise ValueError(f"dim {d} not divisible by n_subspaces {n_subspaces}")
    dsub = d // n_subspaces
    K = min(pq_k, n)
    books = np.empty((n_subspaces, K, dsub))
    init_idx = (np.arange(K) * n) // K
    for m in range(n_subspaces):
        S = U[:, m * dsub : (m + 1) * dsub]
        C = S[init_idx].copy()
        s2 = np.einsum("ij,ij->i", S, S)  # exact ints
        for _ in range(lloyd_iters):
            c2 = np.einsum("ij,ij->i", C, C)
            d2 = s2[:, None] + c2[None, :] - 2.0 * (S @ C.T)  # exact
            assign = np.argmin(d2, axis=1)  # first-min ties
            for ci in range(K):
                members = S[assign == ci]
                if len(members):
                    C[ci] = np.floor(
                        members.sum(axis=0) / len(members) + 0.5
                    )
        books[m] = C
    return books  # integer-valued


def _pq_encode_q(U: np.ndarray, Bq: np.ndarray) -> np.ndarray:
    """codes (n, M) uint8 for Q6 unit vectors vs integer codebooks —
    argmin of exact-integer d2, first-min ties (== SQL d2 ASC, code
    ASC)."""
    M, K, dsub = Bq.shape
    out = np.empty((len(U), M), dtype=np.uint8)
    for m in range(M):
        S = U[:, m * dsub : (m + 1) * dsub]
        c2 = np.einsum("ij,ij->i", Bq[m], Bq[m])
        d2 = (
            np.einsum("ij,ij->i", S, S)[:, None]
            + c2[None, :]
            - 2.0 * (S @ Bq[m].T)
        )
        out[:, m] = np.argmin(d2, axis=1).astype(np.uint8)
    return out


def _lsh_q6_frame(
    df: DataFrame, id_col: str, vec_col: str, W: np.ndarray
) -> DataFrame:
    """(_id, _bs array<long>, _qv array<double>): per vector the
    sign-LSH bucket per table over EXACT integer dots (Q6 unit vector
    x md5-derived integer planes, functions.hashes.lsh_plane_matrix_q)
    plus the unit vector for downstream lattice-cosine scoring.
    Zero-norm vectors excluded. One map-only Arrow pass."""
    from typing import Iterator as _It

    T, P, D = W.shape
    Wf = W.reshape(T * P, D)
    pw = (1 << np.arange(P)).astype(np.int64)

    def kern(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
            U, nzm = _q6_unit_np(V)
            U = U[nzm]
            if not len(U):
                continue
            dots = U @ Wf.T  # integer-exact (< 2^53)
            bits = (dots > 0).reshape(len(U), T, P)
            buckets = (bits * pw).sum(axis=2).astype(np.int64)
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy()[nzm],
                    "_bs": [row.tolist() for row in buckets],
                    "_qv": [row.tolist() for row in U],
                }
            )

    return df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).mapInPandas(kern, "_id long, _bs array<long>, _qv array<double>")


def _lsh_key_exprs(num_tables: int, num_planes: int, n_probes: int,
                   probe: bool) -> list:
    """Global bucket keys (t << P) + b, plus the Hamming-1 multi-probe
    XOR variants on the probe side (``probe=True``); the other side
    holds only its exact bucket per table."""
    keys = []
    for t in range(num_tables):
        b = F.col("_bs").getItem(t)
        tb = F.lit(t << num_planes).cast("long")
        keys.append(tb + b)
        if probe:
            for bit in range(min(n_probes - 1, num_planes)):
                keys.append(tb + b.bitwiseXOR(F.lit(1 << bit)))
    return keys


def ann_topk_lsh_q(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 8,
    n_probes: int = 9,
    num_tables: int = 6,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: multi-table sign-LSH bucket join + exact
    re-rank inside candidate buckets.

    ``num_tables`` hash tables are unioned — the standard LSH recall
    amplifier: a true neighbor is found if ANY table agrees on all
    ``num_planes`` sign bits. ``n_probes`` > 1 additionally probes the
    query's buckets at Hamming distance 1 (multi-probe), trading
    shuffle volume for recall. Defaults are tuned on the driver
    testdata (near-uniform 64-dim vectors): recall ~0.5 of exact top-5
    while scoring ~20% of the corpus per query; on genuinely clustered
    embeddings (angles 20-40°) the same config recalls >0.9.

    Engine-portable: planes come from the md5-prefix generator
    (functions.hashes.lsh_plane_matrix_q, keyed by ``seed``) and every
    dot runs on the Q6 integer lattice, so buckets, probe keys,
    candidate pairs, AND the re-ranked (query_id, nn_id, cos_sim, rk)
    rows are reproducible bit-for-bit by the DuckDB twin
    (functions/lsh_oracle.py). Zero-norm vectors are excluded.

    Scale: one Arrow bucket pass per side, then the candidate join
    moves ONLY (id, bucket) pairs — never the vectors; pairs are
    deduped narrow before any vector is attached for the re-rank.
    Self-search (``queries is corpus``) runs the bucket kernel once
    and derives both roles' keys from one persisted frame. Bucket
    skew (dense regions) is handled by AQE skew-join."""
    from clinvar_pipeline_spark.functions.hashes import lsh_plane_matrix_q

    W = lsh_plane_matrix_q(num_tables, num_planes, dim, seed)
    c_side = register_persist(_lsh_q6_frame(corpus, id_col, vec_col, W))
    q_side = (
        c_side
        if queries is corpus
        else register_persist(_lsh_q6_frame(queries, id_col, vec_col, W))
    )
    c = c_side.select(
        F.col("_id").alias("nn_id"),
        F.explode(
            F.array(*_lsh_key_exprs(num_tables, num_planes, n_probes, False))
        ).alias("bucket"),
    )
    q = q_side.select(
        F.col("_id").alias("query_id"),
        F.explode(
            F.array(*_lsh_key_exprs(num_tables, num_planes, n_probes, True))
        ).alias("bucket"),
    )
    pairs = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("nn_id"))
        .select("query_id", "nn_id")
        .dropDuplicates(["query_id", "nn_id"])
    )
    return _rerank_topk_q(pairs, q_side, c_side, k)


def lsh_neardup_pairs_q(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int = 8,
    n_probes: int = 9,
    num_tables: int = 6,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH buckets — the
    label-free scale path beside the label-blocked exact query
    (queries.q_embedding_neardup_pairs). Candidates come from the same
    bucket join as :func:`ann_topk_lsh_q` with the asymmetric
    probe-vs-exact roles (id_a probes, id_b holds the exact bucket,
    id_a < id_b); the exact lattice cosine then verifies each
    candidate, compared on the raw integer dot against the same
    threshold·1e12 double the DuckDB twin (functions/lsh_oracle.py)
    inlines. Emits (id_a, id_b, cos_sim) qround'd to 6.

    Sign-LSH collision probability per plane is (1 - angle/pi), so the
    operator targets HIGH-similarity near-dups: at cosine 0.99
    (angle ~8 deg) a pair survives one 8-plane table with p ~ 0.69 and
    all 6 tables miss with p ~ 1e-3 before multi-probe; at cosine 0.5
    recall degrades by design — near-uniform pairs are the ANN top-k
    queries' job, not dedup's."""
    from clinvar_pipeline_spark.functions.hashes import lsh_plane_matrix_q

    W = lsh_plane_matrix_q(num_tables, num_planes, dim, seed)
    shared = register_persist(_lsh_q6_frame(df, id_col, vec_col, W))
    probed = shared.select(
        F.col("_id").alias("id_a"),
        F.explode(
            F.array(*_lsh_key_exprs(num_tables, num_planes, n_probes, True))
        ).alias("bucket"),
    )
    exact = shared.select(
        F.col("_id").alias("id_b"),
        F.explode(
            F.array(*_lsh_key_exprs(num_tables, num_planes, n_probes, False))
        ).alias("bucket"),
    )
    pairs = (
        probed.join(exact, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Arrow-batched exact integer dot (see _rerank_topk_q r11 note:
    # every partial sum < 2^53, so any summation order is the
    # identical double). nondeterministic stops the optimizer from
    # pushing the threshold filter below the projection and evaluating
    # the kernel twice (guide §4.4). r12: routed through
    # _scored_pair_dots — id pairs only cross the Python boundary when
    # the corpus fits the broadcast bound (join-attach at scale).
    scored = _scored_pair_dots(
        pairs, shared, shared, "id_a", "id_b", nondeterministic=True
    )
    return scored.filter(
        F.col("_dot") >= F.lit(threshold) * F.lit(1.0e12)
    ).select(
        "id_a",
        "id_b",
        (
            F.floor(F.col("_dot") / F.lit(1.0e12) * F.lit(1.0e6) + F.lit(0.5))
            / F.lit(1.0e6)
        ).alias("cos_sim"),
    )
