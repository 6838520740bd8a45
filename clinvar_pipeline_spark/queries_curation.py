"""Embedding-curation + sketch suite (round 7): the label-aware
training-data curation operators that sit between a pretraining
corpus and a *fine-tuning / contrastive* dataset, plus the third
classic mergeable sketch (Count-Min) alongside the HLL family in
queries_llm.

- hard_negatives: per-anchor top-k most-similar DIFFERENT-label
  vectors — contrastive hard-negative mining (the dataset-side half
  of in-batch negatives; e.g. DPR, Karpukhin et al. 2020).
- knn_label_noise: k-NN label-consistency screen — a vector whose
  neighborhood votes for another class is a likely mislabel
  (deep k-NN / Confident-Learning family, Northcutt et al. 2021).
- class_centroid_outliers: per-class prototype (elementwise mean)
  and each member's cosine alignment to its own prototype — the
  prototype-distance pruning signal (SSL-prototypes, Sorscher et
  al. 2022); negative alignment flags probable mislabels/outliers.
- cm_heavy_hitters: Count-Min sketch (Cormode & Muthukrishnan 2005)
  over the token stream, audited against exact counts — the
  bounded-memory mergeable frequency summary (depth x width cells)
  a 100 TB token census keeps per partition where an exact groupBy
  vocabulary would not fit.

Same registry idiom as queries.py: every entry has a DuckDB oracle
twin (all four are SQL-expressible — the exact-kNN anchors are
bounded, and the CM hash rows use the md5-prefix family hex64 that
DuckDB recomputes bit-for-bit)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clinvar_pipeline_spark.functions.hashes import (
    cosine_similarity,
    hex64,
    normalized_tokens,
    shingles_of_tokens,
)
from clinvar_pipeline_spark.operators.topk import partition_topk
from clinvar_pipeline_spark.queries import (
    _TOKENIZE_SQL,
    _persist,
    _spread,
    _t,
    register,
)

# ---------------------------------------------------------------------
# Contrastive hard-negative mining
# ---------------------------------------------------------------------

# Anchors are a deterministic bounded set (lowest vec_ids): the exact
# scan is O(anchors x corpus), so the anchor budget — not the corpus —
# sets the cost, the same contract as topk_cosine's single query row.
# Production mines negatives for EVERY anchor through the ANN index
# (operators/similarity.py ann_topk_ivfpq) and re-ranks exactly; this
# query is the exact-scan baseline those paths are measured against.
N_ANCHORS_NEG = 16
K_NEG = 5


@register(
    "hard_negatives",
    f"""
    WITH a AS (SELECT vec_id AS anchor_id, label AS a_label,
                      CAST(embedding AS DOUBLE[]) AS av
               FROM embeddings ORDER BY vec_id LIMIT {N_ANCHORS_NEG}),
    c AS (SELECT a.anchor_id, e.vec_id,
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        a.av) AS s
          FROM embeddings e JOIN a ON e.label != a.a_label),
    r AS (SELECT anchor_id, vec_id, s,
                 row_number() OVER (PARTITION BY anchor_id
                                    ORDER BY s DESC, vec_id) AS rnk
          FROM c)
    SELECT anchor_id, vec_id, CAST(rnk AS BIGINT) AS rnk,
           round(s, 6) AS sim
    FROM r WHERE rnk <= {K_NEG}
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the K_NEG most cosine-similar vectors carrying a DIFFERENT
    label — the near-misses a contrastive loss learns the most from
    (random negatives are trivially separable; these are not).

    Scale: anchors broadcast (N_ANCHORS_NEG rows), one corpus scan
    computing the JVM-side dot products, then a per-anchor top-k.
    The candidate exchange is (anchor_id, vec_id, sim) — 24 bytes/row
    into an anchor-keyed window; anchor count bounds both the scan
    multiplier and the shuffle. The full-corpus-anchors variant goes
    through the IVF-PQ index (operators/similarity.py), which prunes
    the scan to probed cells; this is its exact audit baseline."""
    e = _spread(_t(spark, sf_dir, "embeddings"))
    a = (
        e.orderBy("vec_id")
        .limit(N_ANCHORS_NEG)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("a_label"),
            F.col("embedding").alias("av"),
        )
    )
    sim = cosine_similarity(F.col("embedding"), F.col("av"))
    cand = (
        e.crossJoin(F.broadcast(a))
        .filter(F.col("label") != F.col("a_label"))
        .select("anchor_id", "vec_id", sim.alias("s"))
    )
    # map-side partial top-k: the window below now sorts at most
    # partitions x anchors x K_NEG survivors instead of the full
    # anchors x corpus candidate set (a pure prune — sims stay the
    # JVM-computed values, so oracle exactness is untouched)
    cand = partition_topk(cand, "anchor_id", "s", "vec_id", K_NEG)
    w = Window.partitionBy("anchor_id").orderBy(F.col("s").desc(), "vec_id")
    return (
        cand.select(
            "anchor_id", "vec_id", "s", F.row_number().over(w).alias("rnk")
        )
        .filter(F.col("rnk") <= K_NEG)
        .select(
            "anchor_id",
            "vec_id",
            F.col("rnk").cast("long").alias("rnk"),
            F.round("s", 6).alias("sim"),
        )
    )


# ---------------------------------------------------------------------
# k-NN label-noise screen
# ---------------------------------------------------------------------

N_ANCHORS_KNN = 128  # vectors screened per run (bounded exact pass)
K_KNN = 7  # neighborhood size voting on the label


@register(
    "knn_label_noise",
    f"""
    WITH a AS (SELECT vec_id AS qid, label AS q_label,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings ORDER BY vec_id LIMIT {N_ANCHORS_KNN}),
    nn AS (SELECT qid, q_label, e.label AS n_label,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY list_cosine_similarity(
                        CAST(e.embedding AS DOUBLE[]), qv) DESC,
                             e.vec_id) AS rnk
           FROM embeddings e, a WHERE e.vec_id != a.qid),
    v AS (SELECT qid, q_label, n_label, count(*) AS votes
          FROM nn WHERE rnk <= {K_KNN} GROUP BY qid, q_label, n_label),
    m AS (SELECT qid, q_label, n_label AS knn_label, votes,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY votes DESC, n_label) AS r
          FROM v)
    SELECT qid AS vec_id, q_label AS label, knn_label,
           CAST(votes AS BIGINT) AS n_votes,
           CASE WHEN knn_label != q_label THEN 1 ELSE 0 END AS flagged
    FROM m WHERE r = 1
    """,
)
def q_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection by neighborhood vote: each screened
    vector's K_KNN nearest neighbors (cosine, self excluded) vote with
    their labels; the majority label (ties broken by smaller label, a
    total order both engines share) becomes knn_label, and a vector
    whose own label loses the vote is flagged as a likely mislabel —
    the deep-k-NN / Confident-Learning screen run before fine-tuning
    on labeled data.

    Scale: identical envelope to hard_negatives — broadcast anchor
    set, one scan, per-anchor top-k, then a (qid, label)-keyed vote
    count whose cardinality is <= anchors x K_KNN. Screening the FULL
    corpus goes through the ANN index per anchor-batch; this bounded
    exact pass is the per-batch shape and the recall oracle."""
    e = _spread(_t(spark, sf_dir, "embeddings"))
    a = (
        e.orderBy("vec_id")
        .limit(N_ANCHORS_KNN)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("qv"),
        )
    )
    sim = cosine_similarity(F.col("embedding"), F.col("qv"))
    nn = (
        e.crossJoin(F.broadcast(a))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "q_label", F.col("label").alias("n_label"), "vec_id",
            sim.alias("s"),
        )
    )
    # same map-side prune as hard_negatives: the exchange carries
    # partitions x anchors x K_KNN survivor rows, not anchors x corpus
    nn = partition_topk(nn, "qid", "s", "vec_id", K_KNN)
    w = Window.partitionBy("qid").orderBy(F.col("s").desc(), "vec_id")
    k = (
        nn.select("qid", "q_label", "n_label", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= K_KNN)
    )
    v = k.groupBy("qid", "q_label", "n_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("votes").desc(), "n_label")
    return (
        v.select(
            "qid", "q_label", "n_label", "votes",
            F.row_number().over(w2).alias("r"),
        )
        .filter(F.col("r") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("q_label").alias("label"),
            F.col("n_label").alias("knn_label"),
            F.col("votes").cast("long").alias("n_votes"),
            F.when(F.col("n_label") != F.col("q_label"), 1)
            .otherwise(0)
            .alias("flagged"),
        )
    )


# ---------------------------------------------------------------------
# Per-class prototype alignment (centroid outliers)
# ---------------------------------------------------------------------

# A member whose cosine alignment with its own class prototype is
# negative points AWAY from its class in embedding space — the
# prototype-distance pruning/mislabel signal. 0.0 is the natural cut
# (sign of the alignment); ~11% of the synthetic corpus trips it.
CENTROID_SIM_MIN = 0.0


@register(
    "class_centroid_outliers",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    ex AS (SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS x
           FROM e),
    cent AS (SELECT label, i,
                    CAST(sum(CAST(x AS DECIMAL(38,15))) AS DOUBLE)
                      / count(*) AS m
             FROM ex GROUP BY label, i),
    carr AS (SELECT label, list(m ORDER BY i) AS c
             FROM cent GROUP BY label)
    SELECT vec_id, e.label,
           round(list_cosine_similarity(v, c), 6) AS centroid_sim,
           CASE WHEN list_cosine_similarity(v, c) < {CENTROID_SIM_MIN}
                THEN 1 ELSE 0 END AS flagged
    FROM e JOIN carr USING (label)
    """,
)
def q_class_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class prototype alignment: the class centroid is the
    elementwise mean of its members' embeddings; each member is scored
    by cosine alignment to its OWN class prototype and flagged when
    the alignment is negative (CENTROID_SIM_MIN) — SSL-prototypes'
    easy/hard pruning axis and a second, vote-free mislabel signal
    next to knn_label_noise.

    Determinism note: the centroid mean SUMS IN DECIMAL(38,15) —
    exact, summation-ORDER-INDEPENDENT — then converts to double for
    the division, so the served score never depends on partition
    arrival order (the repo's sum-in-decimal discipline; a plain
    double avg would drift run-to-run at the last ulp).

    Scale: the explode is dim x N rows of 16 bytes into a (label, i)
    groupBy — one shuffle, map-side combined to labels x dim partials
    per task; the centroid table (labels x dim, then labels rows after
    re-assembly) broadcasts back onto a map-only scoring scan."""
    e = _spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # centroid build + scoring scan share the cast
    e = _persist(e)
    ex = e.select("label", F.posexplode("v").alias("i", "x"))
    cent = ex.groupBy("label", "i").agg(
        (
            F.sum(F.col("x").cast("decimal(38,15)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))),
            lambda s: s["m"],
        ).alias("c")
    )
    sim = cosine_similarity(F.col("v"), F.col("c"))
    return e.join(F.broadcast(carr), "label").select(
        "vec_id",
        "label",
        F.round(sim, 6).alias("centroid_sim"),
        F.when(sim < CENTROID_SIM_MIN, 1).otherwise(0).alias("flagged"),
    )


# ---------------------------------------------------------------------
# Count-Min sketch heavy hitters
# ---------------------------------------------------------------------

# depth x width cells: width is sized BELOW the corpus vocabulary on
# purpose (the testdata vocabulary is ~31 tokens; 16 buckets forces
# real collisions) so the estimate path — min over depth rows, each an
# overcount — is exercised, not vacuous. Production sizing is
# width = ceil(e/eps), depth = ceil(ln(1/delta)) for an eps*N error
# bound at confidence 1-delta; the PLAN is width-independent.
CM_DEPTH = 4
CM_WIDTH = 16
CM_TOPN = 25


def _cm_bucket(j, t) -> F.Column:
    """Row-j Count-Min bucket of token t: the md5-prefix 60-bit hash
    (hex64 — the engine-portable family simhash graduated to in r6)
    of 'cm{j}:{token}', mod CM_WIDTH."""
    return (
        hex64(F.concat(F.lit("cm"), j.cast("string"), F.lit(":"), t))
        % CM_WIDTH
    )


def cm_sketch_from_tokens(toks: DataFrame) -> DataFrame:
    """Count-Min sketch of a one-column token frame ``(t)`` as data:
    (j, b, c) cell rows, <= CM_DEPTH x CM_WIDTH of them regardless of
    corpus size (one map-side-combined groupBy whose partial state IS
    the sketch)."""
    js = F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("j")
    return (
        toks.select("t", js)
        .select("j", _cm_bucket(F.col("j"), F.col("t")).alias("b"))
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cm_sketch_frame(docs: DataFrame) -> DataFrame:
    """The Count-Min sketch of a (doc_id, text) frame. Shared by the
    batch query below and the streamed per-epoch delta
    (streaming/corpus.cm_stream) — counters are LINEAR, so sketches
    of disjoint slices merge by cellwise addition, which is exactly
    what summing delta frames does."""
    return cm_sketch_from_tokens(
        docs.select(F.explode(normalized_tokens(F.col("text"))).alias("t"))
    )


@register(
    "cm_heavy_hitters",
    f"""
    WITH tok AS (SELECT unnest({_TOKENIZE_SQL.format(col='text')}) AS t
                 FROM documents),
    occ AS (SELECT t.t, r.j FROM tok t, range(0, {CM_DEPTH}) r(j)),
    sk AS (SELECT j,
                  CAST(concat('0x', substr(md5(concat('cm', j, ':', t)),
                                           1, 15)) AS BIGINT)
                    % {CM_WIDTH} AS b,
                  count(*) AS c
           FROM occ GROUP BY j, b),
    top AS (SELECT t, count(*) AS exact_cnt FROM tok GROUP BY t
            ORDER BY exact_cnt DESC, t LIMIT {CM_TOPN}),
    keys AS (SELECT t, exact_cnt, r.j,
                    CAST(concat('0x',
                                substr(md5(concat('cm', r.j, ':', t)),
                                       1, 15)) AS BIGINT)
                      % {CM_WIDTH} AS b
             FROM top, range(0, {CM_DEPTH}) r(j)),
    est AS (SELECT t, exact_cnt, min(c) AS cm_est
            FROM keys JOIN sk USING (j, b) GROUP BY t, exact_cnt)
    SELECT t AS token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cm_est AS BIGINT) AS cm_est,
           CAST(cm_est - exact_cnt AS BIGINT) AS overcount
    FROM est
    """,
)
def q_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates audited against exact
    counts: the sketch is CM_DEPTH independent hash rows of CM_WIDTH
    counters over the token stream; a token's estimate is the MIN of
    its CM_DEPTH bucket counts — an overcount by construction, never
    an undercount (the contract test pins overcount >= 0 row-by-row).
    Emitted per exact top-CM_TOPN token: exact count, CM estimate, and
    the overcount, making the eps*N error envelope observable.

    This is the third mergeable sketch next to hll_distinct /
    hll_overlap (cardinality) and value_quantiles' histogram family
    (order statistics): frequency. Counters are linear, so partition
    sketches merge by cell-wise addition — exactly what the groupBy
    computes.

    Scale: the PRODUCTION sketch build (cm_sketch_frame above, the
    streaming path) is a fixed DEPTH x WIDTH cell table regardless of
    corpus or vocabulary size — one map-side-combined groupBy whose
    partial state per task is the sketch itself. This AUDIT query
    additionally needs the exact top-N, which requires a vocab-sized
    token-count aggregate anyway — so (r11, guide §2.4 share one
    exchange) the sketch is derived from that same aggregate by
    LINEARITY: summing per-token exact counts into (j, bucket) cells
    gives bit-identical integers to counting occurrences directly,
    and the corpus-sized explode now feeds ONE groupBy(t) exchange
    both consumers hang off. NOTE (ADVICE r11): the reuse is
    AQE-RUNTIME-dependent — the static plan dump shows the tc subtree
    twice (two scans, two token-count exchanges, no ReusedExchange
    node); it is the adaptive executor that dedups the identical
    exchange at runtime, confirmed by the 5-stage / one-corpus-stage
    stage_profile. If canonicalization ever diverged the cost would
    be a second map-side explode pass (the pre-r11 shape), not a
    correctness change. Before: two full explode passes, 7.3 + 6.2 s
    executor per invocation. The hash runs per VOCAB ROW x DEPTH,
    not per occurrence. The estimate join touches top-N x DEPTH rows
    against the broadcast 64-cell sketch."""
    d = _spread(_t(spark, sf_dir, "documents"))
    toks = d.select(F.explode(normalized_tokens(F.col("text"))).alias("t"))
    tc = toks.groupBy("t").agg(F.count(F.lit(1)).alias("exact_cnt"))
    js = F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("j")
    sk = (
        tc.select("exact_cnt", js, F.col("t"))
        .select("exact_cnt", "j", _cm_bucket(F.col("j"), F.col("t")).alias("b"))
        .groupBy("j", "b")
        .agg(F.sum("exact_cnt").alias("c"))
    )
    top = tc.orderBy(F.col("exact_cnt").desc(), "t").limit(CM_TOPN)
    keys = top.select("t", "exact_cnt", js).select(
        "t", "exact_cnt", "j", _cm_bucket(F.col("j"), F.col("t")).alias("b")
    )
    return (
        keys.join(F.broadcast(sk), ["j", "b"])
        .groupBy("t", "exact_cnt")
        .agg(F.min("c").alias("cm_est"))
        .select(
            F.col("t").alias("token"),
            "exact_cnt",
            "cm_est",
            (F.col("cm_est") - F.col("exact_cnt")).alias("overcount"),
        )
    )


# ---------------------------------------------------------------------
# Bloom-filter decontamination audit (membership sketch)
# ---------------------------------------------------------------------

# depth x bits: sized for the FIXED eval slice below (~300 distinct
# shingles -> ~44% fill per row, ~0.4-3% false-positive rate) so the
# FP path is exercised at every SF, not vacuous. Production sizing is
# m = -n ln(p) / (ln 2)^2, d = m/n ln 2. The eval slice is CAPPED at
# doc_id < EVAL_ID_CAP because a benchmark is fixed-size — it does
# not grow with the corpus, so neither does the filter.
BLOOM_D = 4
BLOOM_M = 2048
EVAL_ID_CAP = 500
_BLOOM_K = 3  # shingle width (tokens), the decontaminate family's k


def _bloom_pos(j, s) -> F.Column:
    """Bit position of shingle s under hash row j: md5-prefix 60-bit
    hash (hex64) of 'bl{j}:{shingle}', mod BLOOM_M."""
    return (
        hex64(F.concat(F.lit("bl"), j.cast("string"), F.lit(":"), s))
        % BLOOM_M
    )


@register(
    "bloom_decontaminate",
    f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, greatest(len(toks) - {_BLOOM_K - 1}, 0) + 1),
            i -> array_to_string(
                list_slice(toks, i, i + {_BLOOM_K - 1}), ' ')))) AS s
        FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
              FROM documents)),
    ev AS (SELECT DISTINCT s FROM sh
           WHERE doc_id % 97 = 0 AND doc_id < {EVAL_ID_CAP}),
    bloom AS (
        SELECT DISTINCT r.j,
               CAST(concat('0x', substr(md5(concat('bl', r.j, ':', s)),
                                        1, 15)) AS BIGINT)
                 % {BLOOM_M} AS pos
        FROM ev CROSS JOIN range(0, {BLOOM_D}) r(j)),
    tr AS (SELECT doc_id, s FROM sh
           WHERE NOT (doc_id % 97 = 0 AND doc_id < {EVAL_ID_CAP})),
    cand AS (
        SELECT t.doc_id, t.s, r.j,
               CAST(concat('0x', substr(md5(concat('bl', r.j, ':', t.s)),
                                        1, 15)) AS BIGINT)
                 % {BLOOM_M} AS pos
        FROM tr t CROSS JOIN range(0, {BLOOM_D}) r(j)),
    bh AS (SELECT doc_id, s FROM cand JOIN bloom USING (j, pos)
           GROUP BY doc_id, s HAVING count(*) = {BLOOM_D}),
    nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
           FROM bh GROUP BY doc_id),
    nx AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_exact_hits
           FROM tr t JOIN ev USING (s) GROUP BY t.doc_id),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
              FROM tr GROUP BY doc_id)
    SELECT nb.doc_id, sizes.n_shingles, nb.n_bloom_hits,
           CAST(coalesce(nx.n_exact_hits, 0) AS BIGINT) AS n_exact_hits,
           CAST(nb.n_bloom_hits - coalesce(nx.n_exact_hits, 0) AS BIGINT)
             AS n_false_pos
    FROM nb JOIN sizes USING (doc_id)
         LEFT JOIN nx ON nb.doc_id = nx.doc_id
    """,
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination audit — the MEMBERSHIP sketch
    completing the family (HLL: cardinality; Count-Min: frequency;
    histogram: order statistics): the fixed-size eval slice's
    shingles set BLOOM_D bit positions in a BLOOM_M-bit filter; a
    training shingle "passes" when all its positions are set. Emitted
    per training document with at least one bloom hit: shingle count,
    bloom-hit count, exact-hit count (the decontaminate semi-join's
    truth), and the false-positive surplus — never negative (a Bloom
    filter has NO false negatives; the contract test pins it), and
    the observable eps the m/n sizing formula trades against.

    Why it matters at 100 TB: exact decontamination broadcasts the
    eval shingle SET (decontaminate's plan — fine for one benchmark);
    screening against MANY benchmarks broadcasts their UNION as one
    ~m-bit filter (here BLOOM_D x BLOOM_M = 8K cells, a few KB as a
    bitset) with the exact semi-join run only on the bloom survivors
    — this query computes both stages so the funnel is auditable. The
    filter is a DISTINCT (j, pos) cell table here (the
    oracle-checkable form; both engines derive positions from the
    md5-prefix hash bit-for-bit); the production deployment packs the
    same positions into a numpy bitset inside an Arrow kernel — same
    positions, same verdicts.

    Scale: the filter build touches only the capped eval slice; the
    probe is one broadcast equi-join on (j, pos) over the exploded
    training shingles (BLOOM_D rows per shingle, 16 bytes each), one
    (doc, shingle) groupBy for the all-bits test, and per-doc
    aggregates off the persisted shingle frame shared with the exact
    twin."""
    d = _spread(_t(spark, sf_dir, "documents"))
    sh = d.select(
        "doc_id", normalized_tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        F.explode(shingles_of_tokens(F.col("toks"), k=_BLOOM_K)).alias("s"),
    )
    # eval build + training probe + sizes share it
    sh = _persist(sh)
    is_eval = (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < EVAL_ID_CAP)
    ev = sh.filter(is_eval).select("s").distinct()
    tr = sh.filter(~is_eval)
    js = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_D - 1))).alias("j")
    bloom = (
        ev.select("s", js)
        .select("j", _bloom_pos(F.col("j"), F.col("s")).alias("pos"))
        .distinct()
    )
    cand = tr.select("doc_id", "s", js).select(
        "doc_id", "s", "j", _bloom_pos(F.col("j"), F.col("s")).alias("pos")
    )
    bh = (
        cand.join(F.broadcast(bloom), ["j", "pos"])
        .groupBy("doc_id", "s")
        .agg(F.count(F.lit(1)).alias("_nbits"))
        .filter(F.col("_nbits") == BLOOM_D)
    )
    nb = bh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    nx = (
        tr.join(F.broadcast(ev), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_exact_hits"))
    )
    sizes = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        nb.join(sizes, "doc_id")
        .join(nx, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            F.coalesce(F.col("n_exact_hits"), F.lit(0))
            .cast("long")
            .alias("n_exact_hits"),
            (
                F.col("n_bloom_hits")
                - F.coalesce(F.col("n_exact_hits"), F.lit(0))
            )
            .cast("long")
            .alias("n_false_pos"),
        )
    )
