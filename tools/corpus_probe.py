#!/usr/bin/env python
"""Corpus-prep scale probe: the round-5 operators at a 10x replication
of the sf corpus (same adversarial scheme as tools/ann_probe.py —
every document/vector copied ``--factor`` times with shifted ids), so
the probe checks both wall-clock scaling AND the operators' exactness
invariants under load:

- sequence_packing: token conservation (sum of chunk tokens == total
  corpus tokens) and all-but-tail chunks exactly SEQ_LEN full — the
  prefix-sum offset allocation must stay consistent across the bigger
  range exchange.
- decontaminate: replicas of eval-slice docs are verbatim copies, so
  every replica whose id leaves the eval slice must be flagged 100%
  contaminated — planted-recall under 10x.
- semantic_dedup (tau=0.99, the Q6-lattice operator the registry
  runs): each vector's factor-1 exact copies must collapse onto one
  survivor per identical group — planted drop fraction ==
  (factor-1)/factor over duplicated groups.
- corpus_shuffle (late r6): global_pos must remain an exact
  permutation 0..N-1 at 10x — the two-phase prefix-sum rank cannot
  drop or duplicate a position as the range exchange widens.
- quality_classifier (late r6): the collected model must stay
  VOCAB-sized as the corpus replicates (replicas add no new tokens) —
  the claim that classifier state is corpus-content-sized, not
  corpus-row-sized.
- split_leakage (late r6): full DuckDB-oracle row match at 10x — the
  one probe invariant checked by an independent engine end-to-end.
- duplicate_spans (late r6): replication makes every window
  duplicated, so each >=W-token doc must collapse to exactly ONE
  full-coverage span — the gaps-and-islands merge under total
  duplication.
- dsir_weights (r7): the importance weight is a pure function of
  document content + the corpus bucket table, so verbatim raw
  replicas must score identically at 10x.
- hll_distinct (r7): register max ignores multiplicity, so every
  language's estimate at 10x must EQUAL the base corpus's.

Usage: python tools/corpus_probe.py [--sf DIR] [--factor 10]
Prints one JSON line; paste numbers into README's probe table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ID_OFFSET = 10**9


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from clinvar_pipeline_spark.caching import release_cached
    from clinvar_pipeline_spark.functions.hashes import normalized_tokens
    from clinvar_pipeline_spark.operators.similarity import semantic_dedup
    from clinvar_pipeline_spark.queries import queries
    from clinvar_pipeline_spark.session import get_spark

    spark = get_spark(app_name="corpus-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"factor": args.factor}

    def replicate(df, id_col):
        cols = [c for c in df.columns if c != id_col]
        return (
            df.select(
                F.explode(
                    F.sequence(F.lit(0), F.lit(args.factor - 1))
                ).alias("_r"),
                id_col,
                *cols,
            )
            .select(
                (
                    F.col(id_col) + F.col("_r").cast("long") * F.lit(ID_OFFSET)
                ).alias(id_col),
                *cols,
            )
            .repartition(32)
            .persist()
        )

    probe_dir = "/tmp/corpus_probe_sf"
    docs = replicate(
        spark.read.parquet(f"{args.sf}/documents.parquet"), "doc_id"
    )
    n_docs = docs.count()
    out["n_docs"] = n_docs
    # the registry queries read parquet from a dir — land the 10x tables
    docs.write.mode("overwrite").parquet(f"{probe_dir}/documents.parquet")

    reg = queries()

    # --- sequence_packing: conservation + full-chunk invariants ------
    t0 = time.time()
    packing = reg["sequence_packing"](spark, probe_dir).collect()
    out["packing_wall_s"] = round(time.time() - t0, 1)
    total_tokens = (
        spark.read.parquet(f"{probe_dir}/documents.parquet")
        .select(F.size(normalized_tokens(F.col("text"))).alias("n"))
        .filter(F.col("n") > 0)
        .agg(F.sum("n"))
        .first()[0]
    )
    packed = sum(r["n_tokens"] for r in packing)
    tail = max(r["seq_id"] for r in packing)
    full = all(
        r["n_tokens"] == 128 for r in packing if r["seq_id"] != tail
    )
    out["packing_chunks"] = len(packing)
    out["packing_conserved"] = bool(packed == total_tokens)
    out["packing_all_full_but_tail"] = bool(full)

    # --- decontaminate: planted recall on replicated eval docs -------
    t0 = time.time()
    dec = reg["decontaminate"](spark, probe_dir)
    dec_rows = dec.count()
    out["decontam_wall_s"] = round(time.time() - t0, 1)
    out["decontam_rows"] = dec_rows
    # replicas of eval docs (base id % 97 == 0, replica id NOT in the
    # eval slice) are verbatim copies -> must be 100% contaminated
    planted = (
        docs.filter(
            (F.pmod(F.col("doc_id") % ID_OFFSET, 97) == 0)
            & (F.pmod(F.col("doc_id"), 97) != 0)
        )
        .select("doc_id")
    )
    n_planted = planted.count()
    hit = (
        dec.filter(F.col("contamination_ratio") >= 1.0)
        .join(planted, "doc_id", "left_semi")
        .count()
    )
    out["decontam_planted"] = n_planted
    out["decontam_planted_flagged"] = hit
    release_cached()

    # --- dedup_clusters: replica groups land whole, never split ------
    # replicas are verbatim copies -> identical shingle sets -> every
    # group is either absent from the pair graph entirely (df-capped
    # symmetrically) or fully present; and connected components must
    # never split an exact-copy group across clusters
    t0 = time.time()
    clusters = reg["dedup_clusters"](spark, probe_dir).persist()
    out["cc_clustered_docs"] = clusters.count()
    out["cc_wall_s"] = round(time.time() - t0, 1)
    grp = clusters.select(
        F.pmod(F.col("doc_id"), F.lit(ID_OFFSET)).alias("base"),
        "cluster_id",
    ).groupBy("base").agg(
        F.countDistinct("cluster_id").alias("nc"),
        F.count(F.lit(1)).alias("nm"),
    )
    out["cc_groups"] = grp.count()
    out["cc_groups_split"] = grp.filter(F.col("nc") > 1).count()
    out["cc_groups_partial"] = grp.filter(
        F.col("nm") != args.factor
    ).count()
    clusters.unpersist()
    release_cached()

    # --- semantic_dedup: identical replicas collapse -----------------
    emb = replicate(
        spark.read.parquet(f"{args.sf}/embeddings.parquet"), "vec_id"
    )
    n_vec = emb.count()
    out["n_vectors"] = n_vec
    t0 = time.time()
    dropped = semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding", tau=0.99,
        num_cells=64,
    ).persist()
    n_dropped = dropped.count()
    out["semdedup_wall_s"] = round(time.time() - t0, 1)
    out["semdedup_dropped"] = n_dropped
    # every replica (id >= ID_OFFSET) has an identical lower-id twin
    # -> must be dropped; survivors among replicas would be misses
    n_replicas = n_vec - n_vec // args.factor
    missed = (
        emb.filter(F.col("vec_id") >= ID_OFFSET)
        .join(dropped, "vec_id", "left_anti")
        .count()
    )
    out["semdedup_replicas"] = n_replicas
    out["semdedup_replicas_missed"] = missed
    release_cached()

    # --- corpus_shuffle: exact permutation at 10x --------------------
    t0 = time.time()
    shuf = reg["corpus_shuffle"](spark, probe_dir)
    stats = shuf.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("global_pos").alias("nd"),
        F.min("global_pos").alias("mn"),
        F.max("global_pos").alias("mx"),
    ).first()
    out["shuffle_wall_s"] = round(time.time() - t0, 1)
    out["shuffle_is_permutation"] = bool(
        stats["n"] == n_docs
        and stats["nd"] == n_docs
        and stats["mn"] == 0
        and stats["mx"] == n_docs - 1
    )
    release_cached()

    # --- quality_classifier: model stays vocab-sized at 10x ----------
    from clinvar_pipeline_spark.streaming.corpus import (
        train_quality_weights,
    )

    base_docs = spark.read.parquet(f"{args.sf}/documents.parquet")
    w1, _ = train_quality_weights(base_docs)
    t0 = time.time()
    w10, _ = train_quality_weights(
        spark.read.parquet(f"{probe_dir}/documents.parquet")
    )
    out["qc_train_wall_s"] = round(time.time() - t0, 1)
    out["qc_vocab_1x"] = len(w1)
    out["qc_vocab_10x"] = len(w10)
    # the invariant as a checked boolean (not just two numbers):
    # replicas add no new tokens, so the model must be the same
    # token set — corpus-content-sized, never corpus-row-sized
    out["qc_vocab_stable"] = bool(set(w1) == set(w10))
    t0 = time.time()
    out["qc_scored_rows"] = reg["quality_classifier"](
        spark, probe_dir
    ).count()
    out["qc_score_wall_s"] = round(time.time() - t0, 1)
    release_cached()

    # --- duplicate_spans: full-coverage collapse at 10x --------------
    # replication makes EVERY window of every doc occur `factor`
    # times, so each >=W-token doc must emit exactly ONE span covering
    # its full token range — islands merging across the whole doc
    from clinvar_pipeline_spark.functions.hashes import (
        normalized_tokens as _nt,
    )
    from clinvar_pipeline_spark.queries_llm import SPAN_W

    t0 = time.time()
    spans = reg["duplicate_spans"](spark, probe_dir).persist()
    n_span_rows = spans.count()
    out["spans_wall_s"] = round(time.time() - t0, 1)
    lens = (
        spark.read.parquet(f"{probe_dir}/documents.parquet")
        .select(
            "doc_id", F.size(_nt(F.col("text"))).alias("_n")
        )
        .filter(F.col("_n") >= SPAN_W)
    )
    eligible = lens.count()
    full = (
        spans.join(lens, "doc_id")
        .filter(
            (F.col("span_start") == 0) & (F.col("span_end") == F.col("_n"))
        )
        .count()
    )
    out["spans_docs_eligible"] = eligible
    out["spans_rows"] = n_span_rows
    out["spans_full_coverage"] = bool(
        n_span_rows == eligible and full == eligible
    )
    spans.unpersist()
    release_cached()

    # --- split_leakage: independent-engine oracle match at 10x -------
    import duckdb

    from clinvar_pipeline_spark.queries import oracle_sql

    t0 = time.time()
    got = sorted(
        map(tuple, reg["split_leakage"](spark, probe_dir).collect())
    )
    out["leakage_wall_s"] = round(time.time() - t0, 1)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{probe_dir}/documents.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(
        oracle_sql()["split_leakage"]
    ).fetchall()))
    out["leakage_groups"] = len(got)
    out["leakage_oracle_match"] = bool(got == want)
    release_cached()

    # --- dsir_weights: weight is a pure function of content ----------
    # replicas are verbatim copies, so every raw replica of the same
    # base doc must carry the SAME (n_feats, log_weight) — the weight
    # depends only on the document's hashed-feature profile and the
    # corpus-level bucket table, never on ids or partitioning. (The
    # bucket table itself stays <= DSIR_B rows at ANY factor — the
    # fixed-feature-dim claim — checked via the registered query's
    # own broadcast-sized weight join succeeding at 10x.)
    t0 = time.time()
    dsir = reg["dsir_weights"](spark, probe_dir).persist()
    out["dsir_rows"] = dsir.count()
    out["dsir_wall_s"] = round(time.time() - t0, 1)
    dgrp = dsir.select(
        F.pmod(F.col("doc_id"), F.lit(ID_OFFSET)).alias("base"),
        "n_feats",
        "log_weight",
    ).groupBy("base").agg(
        F.countDistinct("n_feats", "log_weight").alias("nv")
    )
    out["dsir_raw_groups"] = dgrp.count()
    out["dsir_groups_inconsistent"] = dgrp.filter(F.col("nv") > 1).count()
    dsir.unpersist()
    release_cached()

    # --- hll_distinct: multiplicity-invariance at 10x ----------------
    # replicas add occurrences, never new tokens, so the register
    # frame — and therefore every language's estimate — must be
    # IDENTICAL to the base corpus's (max over a multiset ignores
    # multiplicity); the sketch's whole point at 100 TB
    t0 = time.time()
    hll10 = sorted(map(tuple, reg["hll_distinct"](spark, probe_dir).collect()))
    out["hll_wall_s"] = round(time.time() - t0, 1)
    hll1 = sorted(map(tuple, reg["hll_distinct"](spark, args.sf).collect()))
    out["hll_langs"] = len(hll10)
    out["hll_multiplicity_invariant"] = bool(hll10 == hll1)
    release_cached()

    print(json.dumps(out))


if __name__ == "__main__":
    main()
