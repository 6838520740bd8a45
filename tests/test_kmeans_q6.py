"""Deterministic Q6 k-means quantizer (operators/similarity).

The r9 graduation path: semantic_dedup and ann_topk_ivf run on the
Q6 integer lattice (engine-portable) and are DuckDB-exact at every SF
via functions/kmeans_oracle.py — the cross-engine pin
lives in the correctness gate. These tests pin the LOCAL contracts
that make that possible: integer-lattice state, partitioning/repeat
invariance, a pure-Python decimal-free twin of the trainer, and the
lattice cosine staying within the lattice error bound of the exact
cosine."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from clinvar_pipeline_spark.operators.similarity import (
    _q6_unit_np,
    _train_centroids_q6,
    ann_topk_ivf,
    semantic_dedup,
)


def _mk_emb(spark, n=120, dim=8, seed=7, parts=3):
    rng = np.random.RandomState(seed)
    V = rng.randn(n, dim).astype(np.float32) * 0.3
    rows = [(i, [float(x) for x in V[i]]) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(parts)


def _pure_python_trainer(rows, num_cells, lloyd_iters):
    """Independent twin: same algorithm, scalar Python floats (no
    numpy) — pins that the vectorized trainer's arithmetic really is
    the scalar IEEE sequence (the pagerank secondary-pin style)."""
    import math

    U = []
    for v in rows:  # rows already id-ordered
        xq = [math.floor(float(x) * 1e6 + 0.5) for x in v]
        n2 = sum(q * q for q in xq)
        if n2 > 0:
            nn = math.sqrt(n2)
            U.append([math.floor(q / nn * 1e6 + 0.5) for q in xq])
    n = len(U)
    k = min(num_cells, n)
    C = [list(U[(j * n) // k]) for j in range(k)]
    for _ in range(lloyd_iters):
        assign = []
        for u in U:
            dots = [sum(a * b for a, b in zip(u, c)) for c in C]
            best = max(range(k), key=lambda ci: (dots[ci], -ci))
            assign.append(best)
        for ci in range(k):
            mem = [U[x] for x in range(n) if assign[x] == ci]
            if not mem:
                continue
            S = [sum(col) for col in zip(*mem)]
            mq = [math.floor(s / len(mem) + 0.5) for s in S]
            nn2 = sum(q * q for q in mq)
            if nn2 > 0:
                nn = math.sqrt(nn2)
                C[ci] = [math.floor(q / nn * 1e6 + 0.5) for q in mq]
    return C


def test_trainer_is_integer_lattice_and_matches_python_twin(spark):
    emb = _mk_emb(spark)
    C = _train_centroids_q6(emb, "embedding", 6, 1000, 3, id_col="vec_id")
    assert np.array_equal(C, np.floor(C)), "centroids must be Q6 integers"
    # ‖C‖ within one lattice step of 1e6 (unit direction scaled)
    norms = np.sqrt((C * C).sum(axis=1))
    assert np.all(np.abs(norms - 1e6) < 10)
    rows = [
        r["embedding"]
        for r in emb.orderBy("vec_id").select("embedding").collect()
    ]
    twin = _pure_python_trainer(rows, 6, 3)
    assert [list(map(int, row)) for row in C] == [
        [int(x) for x in row] for row in twin
    ]


def test_trainer_partitioning_invariant(spark):
    a = _train_centroids_q6(
        _mk_emb(spark, parts=1), "embedding", 5, 1000, 4, id_col="vec_id"
    )
    b = _train_centroids_q6(
        _mk_emb(spark, parts=7), "embedding", 5, 1000, 4, id_col="vec_id"
    )
    assert np.array_equal(a, b)


def test_q6_unit_rejects_oversize_components():
    with pytest.raises(ValueError, match="Q6 integer-exactness"):
        _q6_unit_np(np.full((2, 64), 20.0))


def test_quantized_ivf_matches_repeat_and_bounds_exact_cosine(spark):
    emb = _mk_emb(spark, n=80, dim=8, parts=4)
    out1 = sorted(
        tuple(r) for r in ann_topk_ivf(emb, emb, k=3).collect()
    )
    out2 = sorted(
        tuple(r)
        for r in ann_topk_ivf(
            _mk_emb(spark, n=80, dim=8, parts=2), emb, k=3
        ).collect()
    )
    assert out1 == out2 and len(out1) == 80 * 3
    # lattice cosine within 1e-4 of the exact float cosine per pair
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
         for r in emb.collect()}
    for qid, nid, cs, _rk in out1[:50]:
        a, b = V[qid], V[nid]
        exact = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(cs - exact) < 1e-4, (qid, nid, cs, exact)


def test_quantized_semdedup_drops_identical_keeps_orthogonal(spark):
    base = [0.5] * 8
    rows = [
        (1, base),
        (2, base),  # exact dup of 1 -> dropped, kept_by 1, sim 1.0
        (3, [0.5, -0.5] * 4),  # orthogonal to base -> survives
        (4, [0.0] * 8),  # zero-norm: excluded from the search
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, tau=0.9, num_cells=2).collect()
    }
    assert set(out) == {2}
    # lattice cosine of an exact dup: 1.0 within the Q6 error bound
    assert out[2]["kept_by"] == 1 and out[2]["sim"] == pytest.approx(
        1.0, abs=1e-5
    )


def _pure_python_pq_trainer(rows, n_subspaces, pq_k, lloyd_iters):
    """Scalar-Python twin of _train_pq_codebooks_q6 — same sample,
    strided init, integer d2 argmin (ties to the lowest code),
    floor-mean updates, no renormalization."""
    import math

    U = []
    for v in rows:
        xq = [math.floor(float(x) * 1e6 + 0.5) for x in v]
        n2 = sum(q * q for q in xq)
        if n2 > 0:
            nn = math.sqrt(n2)
            U.append([math.floor(q / nn * 1e6 + 0.5) for q in xq])
    n = len(U)
    d = len(U[0])
    dsub = d // n_subspaces
    K = min(pq_k, n)
    init = [(j * n) // K for j in range(K)]
    books = []
    for m in range(n_subspaces):
        S = [u[m * dsub : (m + 1) * dsub] for u in U]
        C = [list(S[j]) for j in init]
        for _ in range(lloyd_iters):
            assign = []
            for s in S:
                d2s = [
                    sum((a - b) * (a - b) for a, b in zip(s, c)) for c in C
                ]
                assign.append(min(range(K), key=lambda ci: (d2s[ci], ci)))
            for ci in range(K):
                mem = [S[x] for x in range(n) if assign[x] == ci]
                if mem:
                    C[ci] = [
                        math.floor(sum(col) / len(mem) + 0.5)
                        for col in zip(*mem)
                    ]
        books.append(C)
    return books


def test_pq_trainer_matches_python_twin_and_is_integer(spark):
    from clinvar_pipeline_spark.operators.similarity import (
        _train_pq_codebooks_q6,
    )

    emb = _mk_emb(spark, n=60, dim=8, parts=3)
    B = _train_pq_codebooks_q6(emb, "embedding", 4, 16, 1000, 3,
                               id_col="vec_id")
    assert np.array_equal(B, np.floor(B)), "codebooks must be Q6 integers"
    rows = [
        r["embedding"]
        for r in emb.orderBy("vec_id").select("embedding").collect()
    ]
    twin = _pure_python_pq_trainer(rows, 4, 16, 3)
    assert [[list(map(int, c)) for c in B[m]] for m in range(4)] == [
        [[int(x) for x in c] for c in twin[m]] for m in range(4)
    ]


def test_float_trainers_are_q6_wrappers(spark):
    """The float-facing trainers must be exactly the Q6 matrices
    divided by 1e6 — one quantizer/codebook set per corpus no matter
    which path consumes it (the r9 unification; the cross-session
    serve equality in tests/test_cli.py depends on it)."""
    from clinvar_pipeline_spark.operators.similarity import (
        _train_centroids,
        _train_centroids_q6,
        _train_pq_codebooks,
        _train_pq_codebooks_q6,
    )

    emb = _mk_emb(spark, n=60, dim=8, parts=2)
    Cq = _train_centroids_q6(emb, "embedding", 5, 1000, 2, id_col="vec_id")
    C = _train_centroids(emb, "embedding", 5, 1000, 2, id_col="vec_id")
    assert np.array_equal(np.floor(C * 1e6 + 0.5), Cq)
    Bq = _train_pq_codebooks_q6(emb, "embedding", 4, 8, 1000, 2,
                                id_col="vec_id")
    B = _train_pq_codebooks(emb, "embedding", 4, 8, 1000, 2,
                            id_col="vec_id")
    assert np.array_equal(np.floor(B * 1e6 + 0.5), Bq)


def test_quantized_lsh_ann_recall_and_determinism(spark):
    """The graduated sign-LSH path (md5-prefix planes + Q6 lattice):
    on a corpus with planted near-duplicate pairs (cos >= 0.99) every
    planted neighbor must be recalled at rank 1 (the
    tests/test_lsh_neardup.py guarantee carried over), and repeated
    runs over different partitionings return identical rows. A
    distinct query frame gets the self-search rows of its own ids."""
    from clinvar_pipeline_spark.operators.similarity import (
        ann_topk_lsh_q,
        lsh_neardup_pairs_q,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(20, 64) * 0.3
    rows = []
    for i in range(20):
        rows.append((i, [float(x) for x in base[i]]))
        # planted near-dup: tiny perturbation -> cos ~ 0.9999
        rows.append((100 + i, [float(x) for x in base[i] * 1.0001]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(3)
    out = ann_topk_lsh_q(emb, emb, k=3, dim=64).collect()
    top1 = {r["query_id"]: r["nn_id"] for r in out if r["rk"] == 1}
    for i in range(20):
        assert top1[i] == 100 + i, (i, top1.get(i))
        assert top1[100 + i] == i
    e7 = emb.repartition(7)
    out2 = ann_topk_lsh_q(e7, e7, k=3, dim=64).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    served = ann_topk_lsh_q(
        emb.filter("vec_id < 100"), emb, k=3, dim=64
    ).collect()
    assert sorted(map(tuple, served)) == sorted(
        tuple(r) for r in out if r["query_id"] < 100
    )

    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_neardup_pairs_q(emb, threshold=0.99, dim=64).collect()
    }
    assert pairs == {(i, 100 + i) for i in range(20)}
