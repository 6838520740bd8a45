"""Corpus-statistics suite (round 8): pointwise-mutual-information
collocations and asymmetric shingle containment — the two classic
corpus screens the dedup/quality suites don't cover.

- PMI collocations: which word pairs co-occur far above chance —
  phrase mining / tokenizer-merge candidates (the statistical cousin
  of the BPE trainer in operators/bpe.py, which merges by raw pair
  frequency; PMI normalizes by unigram popularity).
- Shingle containment: |S(a) ∩ S(b)| / |S(a)| — the ASYMMETRIC
  near-dup screen. Jaccard (queries.py q_ngram_jaccard_pairs) misses
  a short document wholly quoted inside a long one (union-dominated);
  containment is the standard quote/subset detector (Broder's
  containment, the same shingle machinery).

Reference scope: extension tier (the reference engine has no corpus
surface); shares the one tokenizer (functions/hashes.normalized_tokens
== the _TOKENIZE_SQL DuckDB twin) and the SHINGLE_DF_CAP skew
discipline with the dedup suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinvar_pipeline_spark.functions.hashes import (
    normalized_tokens,
    shingles_of_tokens,
    shingle_hashes_of_tokens,
)
from clinvar_pipeline_spark.queries import (
    SHINGLE_DF_CAP,
    _TOKENIZE_SQL,
    _persist,
    _spread,
    _t,
    register,
)

# Containment threshold: the synthetic corpus separates cleanly
# (planted near-dups >= 0.90, background <= 0.27 at sf0.01/sf0.1);
# 0.5 is the conventional "mostly contained" cut and sits mid-gap.
CONTAINMENT_MIN = 0.5
PMI_MIN_COUNT = 5
PMI_TOP = 100


@register(
    "pmi_collocations",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS t
        FROM documents),
    uni AS (
        SELECT unnest(t) AS w FROM toks),
    bi AS (
        SELECT unnest(list_transform(range(1, len(t)),
                      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
        FROM toks WHERE len(t) >= 2),
    uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    bc AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS n_pair
           FROM bi GROUP BY 1, 2),
    tot AS (
        SELECT (SELECT CAST(count(*) AS DOUBLE) FROM uni) AS nu,
               (SELECT CAST(count(*) AS DOUBLE) FROM bi) AS nb)
    SELECT w1, w2, n_pair,
           floor(ln((CAST(n_pair AS DOUBLE) * nu * nu)
                    / (CAST(ua.c AS DOUBLE) * ub.c * nb))
                 * 1000000 + 0.5) / 1000000 AS pmi
    FROM bc
    JOIN uc ua ON ua.w = bc.w1
    JOIN uc ub ON ub.w = bc.w2
    CROSS JOIN tot
    WHERE n_pair >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1, w2
    LIMIT {PMI_TOP}
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top word-pair collocations by pointwise mutual information:
    PMI(x,y) = ln( P(x,y) / (P(x)·P(y)) ) over adjacent-pair
    occurrences, spelled as ln(n_pair·Nuni² / (c_x·c_y·Nbi)) with the
    identical multiply/divide order in both engines (one IEEE ln on
    the same double → bit-identical; the quantizer is the portable
    floor-form, queries.qround).

    Scale: the only corpus-sized work is the two exploded counts,
    both map-side-combined groupBys whose output is vocabulary-
    bounded (unigrams: |V|; bigrams: observed-pair count ≤ |V|², in
    practice ~linear in |V|). The totals are a 1-row broadcast; the
    two unigram lookups broadcast the |V|-row count table. Top-100
    compiles to TakeOrderedAndProject over the rounded PMI with a
    (w1, w2) tiebreak, so the LIMIT cut is engine-deterministic."""
    d = _t(spark, sf_dir, "documents")
    # uni and bi both read the tokens
    toks = _persist(
        _spread(d).select(normalized_tokens(F.col("text")).alias("t"))
    )
    uni = toks.select(F.explode("t").alias("w"))
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    bi = _persist(bi)  # read twice: pair counts + the Nbi total
    uc = _persist(uni.groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    # Nuni from the unigram count table (sum of c — avoids a second
    # full-corpus pass), Nbi from the persisted bigram frame
    tot = uc.agg(F.sum("c").cast("double").alias("nu")).join(
        bi.agg(F.count(F.lit(1)).cast("double").alias("nb"))
    )
    p = float(10**6)
    pmi = (
        F.log(
            (F.col("n_pair").cast("double") * F.col("nu") * F.col("nu"))
            / (F.col("ca").cast("double") * F.col("cb") * F.col("nb"))
        )
        * F.lit(p)
        + F.lit(0.5)
    )
    ua = uc.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    ub = uc.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    return (
        bc.filter(F.col("n_pair") >= PMI_MIN_COUNT)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .join(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            (F.floor(pmi) / F.lit(p)).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOP)
    )


@register(
    "shingle_containment",
    f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh_list)) AS shingle
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')
                   ) AS sh_list
            FROM (SELECT doc_id, {{tok}} AS toks
                  FROM documents))
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shj AS (
        SELECT s.* FROM sh s
        JOIN (SELECT shingle FROM sh GROUP BY shingle
              HAVING count(*) <= {SHINGLE_DF_CAP}) cold USING (shingle)),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    both_dirs AS (
        SELECT doc_a AS inner_doc, doc_b AS outer_doc, i FROM inter
        UNION ALL
        SELECT doc_b AS inner_doc, doc_a AS outer_doc, i FROM inter)
    SELECT inner_doc, outer_doc,
           floor(CAST(i AS DOUBLE) / s.n * 10000 + 0.5) / 10000
             AS containment
    FROM both_dirs
    JOIN sizes s ON s.doc_id = inner_doc
    WHERE CAST(i AS DOUBLE) / s.n >= {CONTAINMENT_MIN}
    """.format(tok=_TOKENIZE_SQL.format(col="text")),
)
def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs: emit (inner_doc, outer_doc) when
    at least CONTAINMENT_MIN of inner's distinct 3-shingles also
    appear in outer — the quote/subset detector Jaccard structurally
    misses (a 50-shingle doc inside a 5000-shingle doc has Jaccard
    ≤ 0.01 but containment 1.0).

    Same machinery and skew discipline as q_ngram_jaccard_pairs: one
    inverted-index self-join on the 8-byte shingle hash with the
    SHINGLE_DF_CAP stop-shingle guard on the JOIN only (denominators
    stay uncapped → reported containment is the df-capped lower
    bound, the no-silent-caps convention — drops visible via
    ``--audit``). Intersections are computed once per
    unordered pair and fanned to both directions AFTER the aggregate
    (2 rows per surviving pair, not 2× the join work)."""
    d = _spread(_t(spark, sf_dir, "documents"))
    # r12: hash the token triple directly (shingle_hashes_of_tokens)
    # — same long join key, no per-position slice+concat string build
    # (the q_ngram_jaccard_pairs kernel note)
    sh = d.select(
        "doc_id", normalized_tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        F.explode(shingle_hashes_of_tokens(F.col("toks"), k=3)).alias(
            "shingle"
        ),
    )
    # four consumer branches read the shingle index (as in
    # q_ngram_jaccard_pairs) — tokenize+shingle runs once
    sh = _persist(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    cold = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= SHINGLE_DF_CAP)
        .select("shingle")
    )
    shj = sh.join(cold, "shingle", "left_semi")
    a = shj.select(
        F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a")
    )
    b = shj.select(
        F.col("doc_id").alias("doc_b"), F.col("shingle").alias("sh_b")
    )
    inter = (
        a.join(b, (F.col("sh_a") == F.col("sh_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    both = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("inner_doc"),
                    F.col("doc_b").alias("outer_doc"),
                ),
                F.struct(
                    F.col("doc_b").alias("inner_doc"),
                    F.col("doc_a").alias("outer_doc"),
                ),
            )
        ).alias("d"),
        "i",
    ).select("d.inner_doc", "d.outer_doc", "i")
    szi = sizes.select(
        F.col("doc_id").alias("inner_doc"), F.col("n").alias("n_inner")
    )
    c = F.col("i").cast("double") / F.col("n_inner")
    return (
        both.join(szi, "inner_doc")
        .filter(c >= CONTAINMENT_MIN)
        .select(
            "inner_doc",
            "outer_doc",
            (F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
                "containment"
            ),
        )
    )


@register(
    "lexical_diversity",
    f"""
    WITH toks AS (
        SELECT source, unnest({_TOKENIZE_SQL.format(col='text')}) AS w
        FROM documents),
    wc AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           floor(CAST(count(*) AS DOUBLE) / sum(c)
                 * 1000000 + 0.5) / 1000000 AS ttr,
           floor(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 1000000 + 0.5) / 1000000 AS hapax_ratio
    FROM wc GROUP BY source
    """,
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness report per source: token count, type
    (distinct-token) count, hapax legomena count, type-token ratio,
    and hapax share of the vocabulary — the corpus-health screen for
    template/boilerplate farms (synthetic or spun sources show
    abnormally LOW TTR and hapax ratio: many tokens, few types,
    nothing rare). Complements source_divergence (which compares
    source distributions to the corpus; this scores each source's
    internal richness) on the shared tokenizer.

    Scale: one exploded (source, token) count — map-side-combined,
    output bounded by sources × vocabulary — then a sources-row
    aggregate. The two ratios are exact-integer ÷ exact-integer, one
    IEEE divide each with the floor-form quantizer."""
    d = _t(spark, sf_dir, "documents")
    wc = (
        _spread(d)
        .select("source", F.explode(normalized_tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return lexical_diversity_from_counts(wc)


def lexical_diversity_from_counts(wc: DataFrame) -> DataFrame:
    """The lexical-diversity aggregate over a (source, w, c) count
    table — shared by the batch query above and the streamed serve
    path (streaming/corpus.lexical_snapshot reads the SAME ADD-merged
    token-count sink that serves zipf/divergence: per-token counts
    are sufficient statistics for tokens/types/hapax, so the sink
    needs no new schema)."""
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return wc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        hapax.alias("n_hapax"),
        (
            F.floor(
                F.count(F.lit(1)).cast("double")
                / F.sum("c")
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("ttr"),
        (
            F.floor(
                hapax.cast("double") / F.count(F.lit(1)) * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("hapax_ratio"),
    )


@register(
    "token_entropy",
    f"""
    WITH toks AS (
        SELECT source, unnest({_TOKENIZE_SQL.format(col='text')}) AS w
        FROM documents),
    wc AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
    tot AS (SELECT source, CAST(sum(c) AS DOUBLE) AS n FROM wc GROUP BY 1)
    SELECT wc.source,
           CAST(t.n AS BIGINT) AS n_tokens,
           floor(sum(-(CAST(wc.c AS DOUBLE) / t.n)
                     * ln(CAST(wc.c AS DOUBLE) / t.n))
                 * 1000000 + 0.5) / 1000000 AS entropy_nats,
           floor(exp(sum(-(CAST(wc.c AS DOUBLE) / t.n)
                         * ln(CAST(wc.c AS DOUBLE) / t.n)))
                 * 10000 + 0.5) / 10000 AS unigram_ppl
    FROM wc JOIN tot t ON t.source = wc.source
    GROUP BY wc.source, t.n
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy (nats) and its exp — the unigram
    perplexity — per source: the information-density companion to
    lexical_diversity (TTR counts types; entropy weighs them — a
    source spamming one template shows low entropy even with a
    normal-looking vocabulary). Same sufficient statistics: the
    (source, token) count table, so the streamed serve path reads
    the one ADD-merged token-count sink (entropy_snapshot).

    Portability note: the entropy SUM is over per-term doubles, so
    unlike the engine's exact-integer sums its value could in
    principle depend on summation order — but both engines sum the
    IDENTICAL multiset of term values and the floor-quantizer at 1e-6
    absorbs the ~1e-12 reassociation residue (same argument as the
    KL sum in source_divergence, which has survived every dual-SF
    gate since r8 landed it). Σ(-p·ln p) with the same per-term
    operation order both sides.

    Scale: vocab × sources count table (map-side combined), then a
    sources-row aggregate — the lexical_diversity envelope plus one
    ln per vocabulary term."""
    d = _t(spark, sf_dir, "documents")
    wc = (
        _spread(d)
        .select("source", F.explode(normalized_tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return token_entropy_from_counts(wc)


def token_entropy_from_counts(wc: DataFrame) -> DataFrame:
    """The entropy aggregate over a (source, w, c) count table —
    shared by the batch query and streaming/corpus.entropy_snapshot."""
    tot = wc.groupBy("source").agg(F.sum("c").cast("double").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    h = F.sum(-p * F.log(p))
    return (
        wc.join(F.broadcast(tot), "source")
        .groupBy("source", "n")
        .agg(h.alias("_h"))
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_tokens"),
            (F.floor(F.col("_h") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
                "entropy_nats"
            ),
            (
                F.floor(F.exp(F.col("_h")) * F.lit(1e4) + F.lit(0.5))
                / F.lit(1e4)
            ).alias("unigram_ppl"),
        )
    )
