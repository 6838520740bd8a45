"""IVF index refresh policy (r10, verdict ask #7): the drift monitor
(operators/similarity.assignment_distance_stats / index_drift_ratio)
and the --corpusPrep retrain trigger. A planted distribution shift
must TRIP the monitor; retraining on the shifted corpus must RESTORE
it — at the operator level and through the CLI artifact lifecycle."""

from __future__ import annotations

import shutil

import numpy as np
import pytest

from clinvar_pipeline_spark.operators.similarity import (
    DRIFT_RETRAIN_THRESHOLD,
    _train_centroids,
    assignment_distance_stats,
    index_drift_ratio,
    load_index_stats,
    save_index_stats,
)

DIM = 16


def _clustered(n: int, seed: int, spread: float = 0.05) -> list:
    """n unit vectors tightly packed around 8 FIXED cluster centers —
    a corpus a k-means quantizer fits WELL (small assignment dist).
    The centers come from a constant-seed rng so different ``seed``
    draws are fresh samples of the SAME distribution (the monitor must
    stay quiet across redraws and trip only on a distribution shift)."""
    centers = np.random.default_rng(0).normal(size=(8, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    V = centers[rng.integers(0, 8, n)] + spread * rng.normal(size=(n, DIM))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    return [(i, [float(x) for x in V[i]], "c") for i in range(n)]


def _diffuse(n: int, seed: int) -> list:
    """n uniform-on-sphere vectors — the planted SHIFT: no cluster
    structure, so every vector sits far from any trained centroid."""
    rng = np.random.default_rng(seed)
    V = rng.normal(size=(n, DIM))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    return [(i, [float(x) for x in V[i]], "c") for i in range(n)]


SCHEMA = "vec_id long, embedding array<float>, label string"


def test_drift_monitor_trips_on_shift_and_retrain_restores(spark):
    corpus_a = spark.createDataFrame(_clustered(400, seed=1), SCHEMA)
    C = _train_centroids(corpus_a, "embedding", 16, 400, 5,
                         id_col="vec_id")
    train_stats = assignment_distance_stats(corpus_a, C)
    assert train_stats["n"] == 400
    # same corpus: ratio ~ 1 (exactly 1 — same frame, same stats)
    r_same = index_drift_ratio(corpus_a, C, train_stats)
    assert 0.9 < r_same < 1.1, r_same
    # a fresh draw from the SAME distribution stays under threshold
    corpus_a2 = spark.createDataFrame(_clustered(400, seed=2), SCHEMA)
    r_redraw = index_drift_ratio(corpus_a2, C, train_stats)
    assert r_redraw <= DRIFT_RETRAIN_THRESHOLD, r_redraw
    # the planted shift (diffuse sphere vs tight clusters) trips it
    corpus_b = spark.createDataFrame(_diffuse(400, seed=3), SCHEMA)
    r_shift = index_drift_ratio(corpus_b, C, train_stats)
    assert r_shift > DRIFT_RETRAIN_THRESHOLD, r_shift
    # retrain on the shifted corpus restores the monitor
    C2 = _train_centroids(corpus_b, "embedding", 16, 400, 5,
                          id_col="vec_id")
    stats2 = assignment_distance_stats(corpus_b, C2)
    r_after = index_drift_ratio(corpus_b, C2, stats2)
    assert 0.9 < r_after < 1.1, r_after


def test_index_stats_round_trip(spark, tmp_path):
    stats = {"n": 123, "mean_dist": 0.25, "p95_dist": 0.5}
    save_index_stats(spark, stats, str(tmp_path / "s"))
    assert load_index_stats(spark, str(tmp_path / "s")) == stats


def test_cli_corpus_prep_retrains_only_on_drift(spark, tmp_path):
    """The artifact lifecycle end-to-end: first build trains; a rerun
    over the unchanged corpus KEEPS the index (retrained=0, ratio~1);
    swapping in a shifted embedding corpus trips the monitor and the
    next build retrains; the build after that keeps the new index."""
    from clinvar_pipeline_spark.caching import release_cached
    from clinvar_pipeline_spark.cli import main

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/documents.parquet",
        sf / "documents.parquet",
    )
    spark.createDataFrame(_clustered(400, seed=10), SCHEMA).coalesce(
        1
    ).write.parquet(str(sf / "embeddings.parquet"))
    out = tmp_path / "prep"

    def run() -> dict:
        # the builds share one session: the third rewrites the corpus
        # at the same path, and the memo must see the new files itself
        release_cached()
        main(["--corpusPrep", "--sf", str(sf), "--out", str(out)])
        return {
            r["stage"]: r["n_rows"]
            for r in spark.read.parquet(str(out / "run_counters")).collect()
        }

    c1 = run()
    assert c1["ivf_index_retrained"] == 1
    assert "ivf_drift_ratio_x1000" not in c1  # nothing to compare yet
    c2 = run()
    assert c2["ivf_index_retrained"] == 0
    assert c2["ivf_drift_ratio_x1000"] <= 1250
    # plant the shift: same path, drifted distribution
    shutil.rmtree(sf / "embeddings.parquet")
    spark.createDataFrame(_diffuse(400, seed=11), SCHEMA).coalesce(
        1
    ).write.parquet(str(sf / "embeddings.parquet"))
    c3 = run()
    assert c3["ivf_drift_ratio_x1000"] > 1250
    assert c3["ivf_index_retrained"] == 1
    c4 = run()
    assert c4["ivf_index_retrained"] == 0
    assert c4["ivf_drift_ratio_x1000"] <= 1250
