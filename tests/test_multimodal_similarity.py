"""Multimodal plumbing tests (binary columns, Arrow batch shape,
partitioning invariance) and ANN recall vs the exact baseline, on the
same LSH/IVF/PQ operators the registry queries run."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from clinvar_pipeline_spark.operators.multimodal import (
    attach_binary,
    extract_image_meta,
    sample_frames,
)
from clinvar_pipeline_spark.operators.similarity import (
    _Q6,
    _pq_encode_q,
    _q6_unit_np,
    ann_topk_lsh_q,
    brute_force_topk,
)


def _recall_with_exact_scores(exact, approx) -> float:
    """Recall of ``approx`` against the exact top-k. Every pair both
    return must carry the exact cosine to within two steps of the
    6-decimal rounding (measured maximum: 2.0e-6; the 1e-12 absorbs
    the binary representation of that difference)."""
    es = {(r["query_id"], r["nn_id"]): r["cos_sim"] for r in exact.collect()}
    as_ = {(r["query_id"], r["nn_id"]): r["cos_sim"] for r in approx.collect()}
    both = es.keys() & as_.keys()
    worst = max(abs(as_[p] - es[p]) for p in both)
    assert worst <= 2e-6 + 1e-12, worst
    return len(both) / len(es)


def _q6_units(emb) -> np.ndarray:
    """The corpus as the PQ encoder sees it: Q6 unit vectors, zero
    rows dropped, in vec_id order."""
    V = np.asarray(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    U, nz = _q6_unit_np(V)
    return U[nz]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "x" * 300), (3, "")],
        "doc_id long, text string",
    )


def test_extract_image_meta(docs):
    out = {
        r["id"]: r
        for r in extract_image_meta(attach_binary(docs, "doc_id", "text")).collect()
    }
    assert out[1]["n_bytes"] == 11
    assert out[1]["sha256"] == hashlib.sha256(b"hello world").hexdigest()
    assert out[1]["width"] == 11 and out[1]["height"] == 0
    assert out[1]["format"] == f"fake/{ord('h')}"
    assert out[2]["width"] == 300 % 256 and out[2]["height"] == 1
    assert out[3]["n_bytes"] == 0 and out[3]["sha256"] == hashlib.sha256(b"").hexdigest()


def test_partitioning_invariance(docs):
    a = extract_image_meta(attach_binary(docs, "doc_id", "text")).collect()
    b = extract_image_meta(
        attach_binary(docs.repartition(3), "doc_id", "text")
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_sample_frames_fanout(docs):
    frames = sample_frames(
        attach_binary(docs, "doc_id", "text"), n_frames=4, frame_size=16
    ).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["id"], []).append(r)
    # doc 1: 11 bytes, stride=2 -> 4 frames all within bounds
    assert len(by_id[1]) == 4
    assert bytes(by_id[1][0]["frame_bytes"]) == b"hello world"[:16]
    # doc 2: 300 bytes, stride=75, frames at 0,75,150,225, 16 bytes each
    assert len(by_id[2]) == 4
    assert all(len(r["frame_bytes"]) == 16 for r in by_id[2])
    # empty doc: no frames
    assert 3 not in by_id


def test_ann_recall_vs_brute_force(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    recall = _recall_with_exact_scores(
        brute_force_topk(emb, emb, k=5), ann_topk_lsh_q(emb, emb, k=5)
    )
    # 8 planes x 6 tables, single-bit multi-probe, on near-uniform
    # 64-dim vectors (mean top-5 angle ~71°): measured recall ~0.5;
    # the floor pins regressions, not the exact value
    assert recall > 0.3, recall
    from clinvar_pipeline_spark.caching import release_cached

    release_cached()


def test_ivf_recall_vs_brute_force(spark):
    from clinvar_pipeline_spark.operators.similarity import ann_topk_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    recall = _recall_with_exact_scores(
        brute_force_topk(emb, emb, k=5), ann_topk_ivf(emb, emb, k=5)
    )
    # 8 of 32 cells probed on near-uniform vectors; spatially coherent
    # candidates beat hash-uniform LSH at similar candidate volume
    assert recall > 0.4, recall
    from clinvar_pipeline_spark.caching import release_cached

    release_cached()


def test_ivf_index_save_load_roundtrip(spark, tmp_path):
    """The cross-session IVF lifecycle: train once, persist the
    quantizer, serve a later search from the loaded index — results
    identical to the in-session search, no training job on the serve
    path."""
    from clinvar_pipeline_spark.operators.similarity import (
        _train_centroids,
        ann_topk_ivf,
        load_centroids,
        save_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    C = _train_centroids(emb, "embedding", 16, 10000, 5, id_col="vec_id")
    path = str(tmp_path / "ivf_index")
    save_centroids(spark, C, path)
    C2 = load_centroids(spark, path)
    assert C2.shape == C.shape
    assert np.allclose(C, C2)

    direct = {
        (r.query_id, r.nn_id)
        for r in ann_topk_ivf(emb, emb, k=3, centroids=C).collect()
    }
    served = {
        (r.query_id, r.nn_id)
        for r in ann_topk_ivf(emb, emb, k=3, centroids=C2).collect()
    }
    assert direct == served
    from clinvar_pipeline_spark.caching import release_cached

    release_cached()


def test_pq_encode_code_size_contract(spark):
    """PQ's whole point is the memory shape: every code is exactly
    n_subspaces bytes regardless of vector width."""
    from clinvar_pipeline_spark.operators.similarity import (
        _train_pq_codebooks_q6,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Bq = _train_pq_codebooks_q6(emb, "embedding", 8, 256, 10000, 3,
                                id_col="vec_id")
    assert Bq.shape[0] == 8 and Bq.shape[2] == 8  # 64-dim -> 8x8
    U = _q6_units(emb)
    codes = _pq_encode_q(U, Bq)
    assert len(codes) == len(U) == emb.count()
    assert all(len(row.tobytes()) == 8 for row in codes)


def test_pq_recall_vs_brute_force(spark):
    """ADC scan + exact re-rank must recover a solid fraction of the
    true top-5 (same floor discipline as the LSH/IVF variants; the
    re-rank pool makes quantization noise recoverable)."""
    from clinvar_pipeline_spark.operators.similarity import (
        ann_topk_pq,
        brute_force_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    recall = _recall_with_exact_scores(
        brute_force_topk(emb, emb, k=5),
        ann_topk_pq(emb, emb, k=5, rerank=40),
    )
    assert recall > 0.4, recall
    from clinvar_pipeline_spark.caching import release_cached

    release_cached()


def test_pq_identical_vector_always_found(spark):
    """A verbatim duplicate shares the query's exact code, so ADC
    scores it at the query's own self-similarity — it must always
    surface (the dedup guarantee)."""
    from clinvar_pipeline_spark.operators.similarity import ann_topk_pq

    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    rows.append((100, [1.0] + [0.0] * 7))  # exact copy of vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        (r.query_id, r.nn_id)
        for r in ann_topk_pq(df, df, k=1, n_subspaces=4, pq_k=16).collect()
    }
    assert (0, 100) in out and (100, 0) in out


def test_pq_bounded_query_guard(spark):
    from clinvar_pipeline_spark.operators.similarity import ann_topk_pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="bounded query batches"):
        ann_topk_pq(emb, emb, k=2, max_queries=10)


def test_pq_codebooks_save_load_roundtrip(spark, tmp_path):
    from clinvar_pipeline_spark.operators.similarity import (
        _train_pq_codebooks,
        load_pq_codebooks,
        save_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    B = _train_pq_codebooks(emb, "embedding", 8, 64, 10000, 3,
                            id_col="vec_id")
    path = str(tmp_path / "pq_books")
    save_pq_codebooks(spark, B, path)
    B2 = load_pq_codebooks(spark, path)
    assert B2.shape == B.shape and np.allclose(B, B2)
    # loaded books re-quantize as ann_topk_pq does and reproduce the
    # encodings bit-for-bit
    U = _q6_units(emb)
    c1 = _pq_encode_q(U, np.floor(B * _Q6 + 0.5))
    c2 = _pq_encode_q(U, np.floor(B2 * _Q6 + 0.5))
    assert np.array_equal(c1, c2)


def test_ivfpq_full_probe_equals_pure_scan(spark):
    """IVF-PQ with n_probe_cells == num_cells masks nothing — results
    must be identical to the pure PQ scan (same codebooks, same
    training), proving the composition changes WHAT is scanned, never
    how it is scored."""
    from clinvar_pipeline_spark.operators.similarity import ann_topk_pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pure = {
        (r.query_id, r.nn_id)
        for r in ann_topk_pq(emb, emb, k=3, rerank=20).collect()
    }
    full_probe = {
        (r.query_id, r.nn_id)
        for r in ann_topk_pq(
            emb, emb, k=3, rerank=20, ivf=True, num_cells=16,
            n_probe_cells=16,
        ).collect()
    }
    assert pure == full_probe
    from clinvar_pipeline_spark.caching import release_cached

    release_cached()


def test_ivfpq_recall_vs_brute_force(spark):
    from clinvar_pipeline_spark.operators.similarity import (
        ann_topk_pq,
        brute_force_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    recall = _recall_with_exact_scores(
        brute_force_topk(emb, emb, k=5),
        ann_topk_pq(emb, emb, k=5, rerank=40, ivf=True),
    )
    # probed-cell pruning on top of PQ quantization: a lower floor
    # than the full scan's 0.4, same discipline as ann_topk_ivf
    assert recall > 0.3, recall
    from clinvar_pipeline_spark.caching import release_cached

    release_cached()


def test_pq_k_uint8_guard(spark):
    # pq_k > 256 would silently wrap uint8 codes — must raise instead
    from clinvar_pipeline_spark.operators.similarity import ann_topk_pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="uint8"):
        ann_topk_pq(emb, emb, k=2, pq_k=512)


def test_pq_empty_queries_empty_result(spark):
    from clinvar_pipeline_spark.operators.similarity import ann_topk_pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    none = emb.filter("vec_id < 0")
    out = ann_topk_pq(none, emb, k=2)
    assert out.count() == 0
    assert out.columns == ["query_id", "nn_id", "cos_sim", "rk"]


def test_ivf_tiny_corpus_fewer_cells_than_probes(spark):
    # trained cell count = min(num_cells, |sample|); a corpus smaller
    # than n_probe_cells used to crash argpartition ("kth out of
    # bounds") — the probe list must clamp to the trained cell count
    from clinvar_pipeline_spark.operators.similarity import ann_topk_ivf

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(4)
    )
    out = ann_topk_ivf(emb, emb, k=2, num_cells=32, n_probe_cells=8)
    # 4 unit vectors, every pair probed -> each query finds neighbors
    assert out.count() > 0


def test_pq_subspaces_for_dim():
    """The CLI's adaptive PQ split: largest divisor of dim <= 8, so
    any corpus dim trains a valid codebook (a dim-4 fixture crashed
    --corpusPrep when m was hardcoded to 8)."""
    from clinvar_pipeline_spark.operators.similarity import (
        pq_subspaces_for_dim,
    )

    assert pq_subspaces_for_dim(64) == 8   # the testdata layout
    assert pq_subspaces_for_dim(128) == 8
    assert pq_subspaces_for_dim(4) == 4    # the CLI story fixture
    assert pq_subspaces_for_dim(6) == 6
    assert pq_subspaces_for_dim(10) == 5
    assert pq_subspaces_for_dim(7) == 7
    assert pq_subspaces_for_dim(13) == 1   # prime > 8: no split
    assert pq_subspaces_for_dim(3, max_subspaces=2) == 1
    for d in range(1, 130):
        m = pq_subspaces_for_dim(d)
        assert d % m == 0 and 1 <= m <= 8
