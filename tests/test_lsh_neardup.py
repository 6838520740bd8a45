"""Label-free LSH embedding near-dup (operators/similarity.py
lsh_neardup_pairs_q): on constructed near-duplicate vectors (base + tiny
noise, cosine >= 0.99) the bucket join must find EVERY planted pair,
and every emitted pair must satisfy the exact-cosine contract."""

import math
import random

from clinvar_pipeline_spark.operators.similarity import lsh_neardup_pairs_q


def _unit(rng, dim):
    v = [rng.gauss(0, 1) for _ in range(dim)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def test_planted_duplicates_all_found(spark):
    rng = random.Random(7)
    dim = 64
    rows = []
    planted = set()
    vid = 0
    for base_i in range(40):
        base = _unit(rng, dim)
        rows.append((vid, base))
        orig = vid
        vid += 1
        if base_i % 2 == 0:  # half the bases get a near-duplicate
            noisy = [x + rng.gauss(0, 0.01) for x in base]
            n = math.sqrt(sum(x * x for x in noisy))
            rows.append((vid, [x / n for x in noisy]))
            planted.add((orig, vid))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = lsh_neardup_pairs_q(df, threshold=0.9, dim=dim)
    got = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in out.collect()}

    # every planted near-dup pair (cosine ~0.995) is found: miss
    # probability with 6 tables x 8 planes + multi-probe is ~1e-5/pair
    for pair in planted:
        assert pair in got, pair
        assert got[pair] >= 0.99
    # contract: emitted pairs are ordered and above threshold
    for (a, b), sim in got.items():
        assert a < b and sim >= 0.9


def test_runs_on_testdata(spark):
    import clinvar_pipeline_spark.queries as q

    out = q.queries()["embedding_neardup_lsh"](
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    # near-uniform corpus: nothing reaches 0.45... except possibly a
    # handful; whatever is emitted obeys the contract
    for r in rows:
        assert r["id_a"] < r["id_b"] and r["cos_sim"] >= 0.45
    q.release_cached()
