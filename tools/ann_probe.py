#!/usr/bin/env python
"""ANN scale probe: ann_topk (sign-LSH, ann_topk_lsh_q) and ann_topk_ivf
at a 10x replication of the sf embeddings corpus — the same adversarial
replication as the round-4 dedup skew probe (each vector copied
``--factor`` times with shifted ids, labels kept), so every point has
factor-1 planted exact duplicates.

Reports, per ANN variant:
- wall: full self-search (every point queries the whole corpus),
  persisted + counted — the 100 TB plan shape under 10x load
- recall@k vs exact brute force on ``--sample`` queries, using the
  score-threshold definition (an ANN hit counts if its cosine >= the
  query's exact k-th best) — robust to ties, which the replication
  creates by construction (all copies tie at cos 1.0). On this corpus
  the measure reads as "does the index surface the planted
  duplicates", the dedup-flavored recall that matters at scale; the
  nontrivial recall floors on the unreplicated corpus stay pinned by
  tests/test_multimodal_similarity.py.

Usage: python tools/ann_probe.py [--sf DIR] [--factor 10] [--sample 200]
Prints one JSON line; paste the numbers into README's probe table.

--drift (r10 verdict ask #6) probes serve QUALITY under the kept-index
regime the drift monitor allows: train an IVF quantizer on the base
corpus, then serve increasingly noise-shifted corpora with the STALE
index (centroids=) — exactly what production does between retrain
threshold crossings — reporting index_drift_ratio next to recall@k vs
exact brute force on the same shifted corpus. The interesting rows are
drift ratios just below DRIFT_RETRAIN_THRESHOLD (1.10): if recall has
already slipped there, the threshold is too loose. --out writes the
JSON document (committed as ANN_PROBE.json).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# module-level, not inside main(): with postponed annotation
# evaluation, pandas_udf resolves 'pd.Series' hints via module globals
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

ID_OFFSET = 10**9


def _recall_vs_exact(exact_rows, got_rows, k: int) -> float:
    """Score-threshold recall@k (tie-robust; see module doc)."""
    kth: dict = {}
    for r in exact_rows:
        kth.setdefault(r["query_id"], []).append(r["cos_sim"])
    thresholds = {q: min(scores) for q, scores in kth.items()}
    per_q: dict = {}
    for r in got_rows:
        per_q.setdefault(r["query_id"], []).append(r["cos_sim"])
    hits = 0
    for q, thr in thresholds.items():
        found = sum(1 for s in per_q.get(q, []) if s >= thr - 1e-6)
        hits += min(found, k)
    return round(hits / (k * len(thresholds)), 4)


def drift_recall_probe(spark, sf: str, sample: int, k: int) -> dict:
    """Recall@k of the KEPT (stale) IVF index on noise-shifted corpora,
    at a ladder of drift ratios bracketing the retrain threshold.

    The shift model is isotropic Gaussian noise mixed into every
    vector (v' = v + eps * |v| * g, re-normalized direction change):
    per-vec_id seeded so the shifted corpus is deterministic and
    identical between the brute-force baseline and the served path.
    The index (centroids + train stats) is trained once on eps=0 and
    NEVER retrained — the between-crossings regime the drift monitor
    (operators/similarity.py:index_drift_ratio) leaves in place."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from clinvar_pipeline_spark.caching import release_cached
    from clinvar_pipeline_spark.operators.similarity import (
        DRIFT_RETRAIN_THRESHOLD,
        _derived_num_cells,
        _train_centroids,
        ann_topk_ivf,
        assignment_distance_stats,
        brute_force_topk,
        index_drift_ratio,
    )

    base = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).repartition(16).persist()
    n = base.count()
    cells = _derived_num_cells(n)
    C = _train_centroids(base, "embedding", cells, 10000, 5, id_col="vec_id")
    train_stats = assignment_distance_stats(base, C)

    def shifted(eps: float):
        if eps == 0.0:
            return base

        @pandas_udf("array<float>")
        def shift(ids: pd.Series, vs: pd.Series) -> pd.Series:
            out = []
            for i, v in zip(ids.tolist(), vs.tolist()):
                V = np.asarray(v, dtype=np.float64)
                g = np.random.default_rng(int(i) * 1_000_003 + 17).standard_normal(
                    len(V)
                )
                g /= max(np.linalg.norm(g), 1e-12)
                out.append(
                    (V + eps * np.linalg.norm(V) * g).astype(np.float32)
                )
            return pd.Series(out)

        return base.select(
            "vec_id", shift(F.col("vec_id"), F.col("embedding")).alias("embedding")
        )

    # the corpus is already high-entropy (train mean assignment
    # distance ~0.63 in 64-dim), so small eps barely moves the ratio;
    # the ladder runs to eps=3 (direction mostly noise) to bracket the
    # 1.10 retrain threshold from below AND above
    ladder = [0.0, 0.25, 0.5, 0.75, 1.0, 1.5, 2.0, 3.0]
    rows = []
    for eps in ladder:
        corpus = shifted(eps).persist()
        corpus.count()
        ratio = index_drift_ratio(corpus, C, train_stats)
        qs = corpus.orderBy("vec_id").limit(sample).persist()
        qs.count()
        exact = brute_force_topk(qs, corpus, k=k).collect()
        got = ann_topk_ivf(qs, corpus, k=k, centroids=C).collect()
        rows.append(
            {
                "eps": eps,
                "drift_ratio": round(ratio, 4),
                "recall_at_k_stale_index": _recall_vs_exact(exact, got, k),
            }
        )
        qs.unpersist()
        corpus.unpersist()
        release_cached()
        print(f"drift {rows[-1]}", file=sys.stderr)

    # adjudication rung: at the worst drift, does RETRAINING (what a
    # threshold crossing triggers) actually recover recall? Train a
    # fresh quantizer on the shifted corpus and serve the same slice.
    worst = ladder[-1]
    corpus = shifted(worst).persist()
    corpus.count()
    C2 = _train_centroids(
        corpus, "embedding", cells, 10000, 5, id_col="vec_id"
    )
    qs = corpus.orderBy("vec_id").limit(sample).persist()
    qs.count()
    exact = brute_force_topk(qs, corpus, k=k).collect()
    got2 = ann_topk_ivf(qs, corpus, k=k, centroids=C2).collect()
    retrained_recall = _recall_vs_exact(exact, got2, k)
    qs.unpersist()
    corpus.unpersist()
    release_cached()

    below = [
        r for r in rows if r["drift_ratio"] < DRIFT_RETRAIN_THRESHOLD
    ]
    return {
        "retrained_at_worst": {
            "eps": worst,
            "recall_at_k_fresh_index": retrained_recall,
        },
        "sf": sf,
        "corpus_rows": n,
        "sample": sample,
        "k": k,
        "num_cells": int(cells),
        "train_mean_dist": round(train_stats["mean_dist"], 6),
        "retrain_threshold": DRIFT_RETRAIN_THRESHOLD,
        "ladder": rows,
        "min_recall_below_threshold": min(
            (r["recall_at_k_stale_index"] for r in below), default=None
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--sample", type=int, default=200)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--drift", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    if args.drift:
        from clinvar_pipeline_spark.session import get_spark

        spark = get_spark(app_name="ann-drift-probe")
        spark.sparkContext.setLogLevel("ERROR")
        doc = drift_recall_probe(spark, args.sf, args.sample, args.k)
        line = json.dumps(doc)
        if args.out:
            with open(args.out, "w") as f:
                json.dump(doc, f, indent=1)
        print(line)
        return

    from pyspark.sql import functions as F

    from clinvar_pipeline_spark.caching import release_cached
    from clinvar_pipeline_spark.operators.similarity import (
        ann_topk_ivf,
        ann_topk_lsh_q,
        brute_force_topk,
    )
    from clinvar_pipeline_spark.session import get_spark

    spark = get_spark(app_name="ann-probe")
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(f"{args.sf}/embeddings.parquet")
    rep = (
        base.select(
            F.explode(
                F.sequence(F.lit(0), F.lit(args.factor - 1))
            ).alias("_r"),
            "vec_id",
            "embedding",
            "label",
        )
        .select(
            (
                F.col("vec_id") + F.col("_r").cast("long") * F.lit(ID_OFFSET)
            ).alias("vec_id"),
            "embedding",
            "label",
        )
        .repartition(32)
        .persist()
    )
    n = rep.count()

    # deterministic query sample: lowest base ids (the r=0 copies)
    sample_ids = [
        r["vec_id"]
        for r in rep.filter(F.col("vec_id") < ID_OFFSET)
        .orderBy("vec_id")
        .limit(args.sample)
        .collect()
    ]
    qs = rep.filter(F.col("vec_id").isin(sample_ids)).persist()
    qs.count()

    t0 = time.time()
    exact = brute_force_topk(qs, rep, k=args.k).collect()
    exact_wall = round(time.time() - t0, 2)

    out = {"sf": args.sf, "factor": args.factor, "corpus_rows": n,
           "sample": len(sample_ids), "k": args.k,
           "exact_baseline_wall_sec": exact_wall, "variants": {}}

    for name, fn in (
        ("ann_topk", ann_topk_lsh_q),
        ("ann_topk_ivf", ann_topk_ivf),
    ):
        t0 = time.time()
        res = fn(rep, rep, k=args.k).persist()
        rows = res.count()
        wall = round(time.time() - t0, 2)

        got = res.filter(F.col("query_id").isin(sample_ids)).collect()
        recall = _recall_vs_exact(exact, got, args.k)

        out["variants"][name] = {
            "wall_sec": wall,
            "result_rows": rows,
            "recall_at_k_vs_exact": recall,
        }
        res.unpersist()
        release_cached()

    # derived-cell audit: num_cells defaults to ~sqrt(N), so cell
    # WIDTH must stay ~sqrt(N) as the corpus replicates — the bounded-
    # width evidence for the sqrt(N) default (a fixed cell count would
    # have widened cells by the replication factor instead)
    from pyspark.sql.functions import pandas_udf

    from clinvar_pipeline_spark.operators.similarity import (
        _derived_num_cells,
        _train_centroids,
    )

    cells = _derived_num_cells(n)
    C = _train_centroids(rep, "embedding", cells, 10000, 5, id_col="vec_id")

    @pandas_udf("int")
    def cell_of(s: pd.Series) -> pd.Series:
        V = np.asarray(s.tolist(), dtype=np.float64)
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        return pd.Series(np.argmax(V @ C.T, axis=1).astype(np.int32))

    widths = (
        rep.select(cell_of(F.col("embedding").cast("array<double>")).alias("c"))
        .groupBy("c")
        .count()
        .agg(
            F.max("count").alias("mx"),
            F.avg("count").alias("avg"),
            F.count(F.lit(1)).alias("used"),
        )
        .first()
    )
    out["derived_cells"] = {
        "corpus_rows": n,
        "num_cells": int(cells),
        "cells_used": int(widths["used"]),
        "mean_cell_width": round(float(widths["avg"]), 1),
        "max_cell_width": int(widths["mx"]),
    }

    print(json.dumps(out))


if __name__ == "__main__":
    main()
