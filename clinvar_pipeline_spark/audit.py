"""Ops-facing audits, importable and CLI-surfaced (``--audit``).

The reference pipeline's operational discipline is its end-of-run
counter email (SURVEY §5.1); this engine's equivalents are:

- :func:`skew_report` — the documented skew caps with their observed
  drop counts (no silent truncation: the pair-generation queries keep
  their hot-key exclusions lazy, this reports what they exclude);
- :func:`explain_audit` — physical-plan smells over the whole query
  registry (cartesian products, row-Python UDFs, unpruned scans),
  with an explicit waiver table for the plans that are intended.

``python -m clinvar_pipeline_spark --audit --sf DIR`` runs both;
``tools/explain_audit.py`` is a thin wrapper over the second.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# query -> smells that are understood and accepted, with the reason
WAIVERS: dict[str, set[str]] = {
    # exact baseline is definitionally all-pairs
    "topk_cosine": {"nested-loop-join"},
    # embedding near-dup at sf scale compares all pairs (oracle twin);
    # minhash/simhash/ann are the scale paths
    "embedding_neardup_pairs": {"nested-loop-join"},
    # the guard joins ONE aggregated count row (broadcast) against the
    # delete set — the distributed form of the driver-side threshold
    # branch (W4); a 1-row broadcast cross join is the intended plan
    "threshold_guard": {"nested-loop-join"},
    # scoring fans the ONE-ROW-PER-DOC count frame out against the
    # L-row per-language default frame (docs x n_languages) — the
    # intended broadcast nested loop; the trigram stream itself only
    # ever equi-joins the charset^3-bounded weight table
    "langid": {"nested-loop-join"},
    "langid_report": {"nested-loop-join"},
    # the pair expansion (lang < lang cross, lang IN (la, lb)) runs
    # over the HLL REGISTER frames — |langs| and |langs| x 256 rows
    # by construction at any corpus size; the corpus-sized work
    # (register build) is one equi-keyed groupBy upstream
    "hll_overlap": {"nested-loop-join"},
    # bounded-anchor exact-kNN baselines: the broadcast anchor set
    # (16 / 128 rows by constant) fans against the scan with a
    # non-equi label/self predicate — the intended plan; the
    # full-corpus variants route through the IVF-PQ index
    "hard_negatives": {"nested-loop-join"},
    "knn_label_noise": {"nested-loop-join"},
    # the Q22-shape scalar-subquery threshold: the ONE-ROW aggregate
    # (global cutoff) broadcast against customer — Catalyst's own
    # decorrelation of a scalar subquery is this exact plan; the
    # build side is 1 row by construction at any SF
    "idle_rich_customers": {"nested-loop-join"},
    # the Nuni/Nbi totals are a 1-row frame broadcast against the
    # vocabulary-bounded pair-count table — the scalar-subquery plan
    "pmi_collocations": {"nested-loop-join"},
    # the min/max bounds frame is ONE row broadcast against the scan
    # (the scalar-subquery shape); the interleave itself is map-only
    "zorder_key": {"nested-loop-join"},
    # per relationship three 1-ROW aggregates (child stats, orphan
    # count, childless count) combine into one report row — 1x1 cross
    # joins by construction; the distributed work upstream is anti
    # joins + partial aggregates
    "fk_integrity": {"nested-loop-join"},
    # same 1-row stat-combine shape: per table the purged and total
    # counts join into one audit row; the cascade itself is semi joins
    "erasure_audit": {"nested-loop-join"},
}


def plan_smells(name: str, plan: str) -> list[str]:
    """Scale smells in one formatted physical plan, minus waivers."""
    smells = []
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan):
        smells.append("nested-loop-join")
    if "BatchEvalPython" in plan:
        smells.append("row-python-udf")
    # every parquet scan should prune columns (ReadSchema never lists
    # all 16 lineitem columns for narrow queries — heuristic: >12 cols)
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        ncols = len(m.group(1).split(",")) if m.group(1) else 0
        if ncols > 12:
            smells.append(f"wide-scan({ncols} cols)")
    return [s for s in smells if s not in WAIVERS.get(name, set())]


def explain_audit(
    spark: SparkSession,
    sf_dir: str,
    names: list[str] | None = None,
    show: bool = False,
) -> int:
    """Audit every registry query's physical plan; returns the number
    of queries with un-waivered smells (0 = clean)."""
    import clinvar_pipeline_spark.queries as q
    from clinvar_pipeline_spark.caching import release_cached

    registry = q.queries()
    names = names or sorted(registry)
    bad = 0
    for name in names:
        df = registry[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # release per query: a persisted frame left registered would be
        # substituted as InMemoryRelation into LATER queries' plans,
        # masking their real scans from this very audit (and leaking
        # the registrations release_cached exists to reclaim)
        release_cached()
        smells = plan_smells(name, plan)
        status = "SMELL" if smells else "ok"
        print(f"{status:5s} {name}" + (f": {', '.join(smells)}" if smells else ""))
        if show or smells:
            print(plan)
        bad += bool(smells)
    print(f"\n{len(names) - bad}/{len(names)} clean")
    return bad


def skew_report(spark: SparkSession, sf_dir: str) -> list[str]:
    """Observed drop counts for the documented skew caps; returns the
    report lines (also printed by callers)."""
    import clinvar_pipeline_spark.queries as q
    from clinvar_pipeline_spark.functions.hashes import (
        normalized_tokens,
        shingles_of_tokens,
    )

    lines = []
    d = q._t(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.explode(
            shingles_of_tokens(normalized_tokens(F.col("text")), k=3)
        ).alias("sh_str"),
    ).select("doc_id", F.xxhash64("sh_str").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    hot = dfreq.filter(F.col("df") > q.SHINGLE_DF_CAP)
    n_hot, n_total = hot.count(), dfreq.count()
    lines.append(
        f"ngram_jaccard_pairs: {n_hot}/{n_total} shingles over "
        f"SHINGLE_DF_CAP={q.SHINGLE_DF_CAP} dropped from the candidate join"
    )

    e = q._t(spark, sf_dir, "embeddings")
    blocks = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    over = blocks.filter(F.col("n") > q.BLOCK_CAP)
    n_over, n_blocks = over.count(), blocks.count()
    lines.append(
        f"embedding_neardup_pairs: {n_over}/{n_blocks} label blocks over "
        f"BLOCK_CAP={q.BLOCK_CAP} dropped from the pair join"
    )
    return lines


# ---------------------------------------------------------------------
# Plan-shape regression baseline
# ---------------------------------------------------------------------

# operator classes whose COUNT is the scale contract of a plan: a new
# Exchange is a new shuffle, a SortMergeJoin degrading to
# BroadcastNestedLoopJoin is a nested loop, a new Python-eval node is
# a new JVM<->Arrow boundary. Counting them per query and diffing
# against a committed baseline turns "the plan regressed" into a CI
# failure instead of a bench-time surprise.
_SIG_OPS = [
    ("shuffle", r"\(\d+\)\s+Exchange\b"),
    ("broadcast", r"\(\d+\)\s+BroadcastExchange\b"),
    ("smj", r"\(\d+\)\s+SortMergeJoin\b"),
    ("bhj", r"\(\d+\)\s+BroadcastHashJoin\b"),
    ("shj", r"\(\d+\)\s+ShuffledHashJoin\b"),
    ("bnlj", r"\(\d+\)\s+BroadcastNestedLoopJoin\b"),
    ("cartesian", r"\(\d+\)\s+CartesianProduct\b"),
    ("aggregate", r"\(\d+\)\s+(?:Hash|Sort|ObjectHash)Aggregate\b"),
    ("window", r"\(\d+\)\s+Window\b"),
    ("sort", r"\(\d+\)\s+Sort\b"),
    ("topk", r"\(\d+\)\s+TakeOrderedAndProject\b"),
    ("scan", r"\(\d+\)\s+Scan parquet\b"),
    ("generate", r"\(\d+\)\s+Generate\b"),
    (
        "python",
        r"\(\d+\)\s+(?:ArrowEvalPython|BatchEvalPython|MapInPandas"
        r"|FlatMapGroupsInPandas(?:WithState)?|MapInArrow)\b",
    ),
]


def plan_signature(plan: str) -> dict[str, int]:
    """Scale-relevant operator counts of one formatted physical plan
    (zero counts omitted so baselines read tersely)."""
    sig = {}
    for key, pat in _SIG_OPS:
        n = len(re.findall(pat, plan))
        if n:
            sig[key] = n
    return sig


def plan_signatures(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, dict[str, int]]:
    """plan_signature for every registry query (insertion order)."""
    import clinvar_pipeline_spark.queries as q
    from clinvar_pipeline_spark.caching import release_cached

    registry = q.queries()
    out = {}
    for name in names or registry:
        df = registry[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        release_cached()  # see explain_audit: avoid InMemoryRelation leaks
        out[name] = plan_signature(plan)
    return out
