"""LLM-training-data pipeline suite, round 5: the corpus-preparation
operators a 100 TB pretraining pipeline runs downstream of dedup —
domain rebalancing (stratified sampling), PII scrubbing, benchmark
decontamination, sequence packing (concat-and-chunk), repetition
quality gates (Gopher-style), LM quality scoring (CCNet-style),
SemDeDup semantic deduplication, BPE tokenizer induction, and the
video/audio manifest rungs of the multimodal ladder.

Same registry idiom as queries.py: every operator is a named query
over the driver's generic tables with a DuckDB oracle twin — ALL of
them, since round 10: semantic_dedup graduated in r9 (the Q6
integer-lattice k-means CTE twin in functions/kmeans_oracle.py
reproduces the quantizer bit-for-bit) and bpe_merges, the last
rows-only survivor, graduated in r10 (the doubled-separator encoding
in functions/bpe_oracle.py makes SQL replace() reproduce the
sequential merge kernel, unrolling training as a bounded CTE chain).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clinvar_pipeline_spark.functions.hashes import (
    hex64,
    normalized_tokens,
    shingles_of_tokens,
)
from clinvar_pipeline_spark.operators.similarity import semantic_dedup
from clinvar_pipeline_spark.operators.topk import partition_topk
from clinvar_pipeline_spark.queries import (
    _TOKENIZE_SQL,
    SHINGLE_DF_CAP as _SHINGLE_DF_CAP,
    _persist,
    _spread,
    _t,
    memo,
    qround,
    register,
)

# ---------------------------------------------------------------------
# Stratified (deterministic) sampling — domain rebalancing
# ---------------------------------------------------------------------

# Engine-portable per-row hash for sampling decisions: a Knuth-style
# multiplicative bucket on the id, mod 1000 ("per-mille bucket"),
# computed in the overflow-free reduced form ((id % 1000) * (K % 1000))
# % 1000 — value-identical to (id * K) % 1000 by modular arithmetic,
# exact in both engines for ANY int64 id. Note the honest limitation
# this form makes visible: any mod-1000 bucket of id*K is a function
# of id % 1000, so ids congruent mod 1000 share a fate — fine for
# sequential ids; production uses pmod(xxhash64(id), 1000), same plan
# shape and selectivity, which the oracle cannot reproduce.
_SAMPLE_K = 2654435761


@register(
    "stratified_sample",
    f"""
    WITH counts AS (
        SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
    rates AS (
        SELECT lang,
               CAST(floor(1000.0 * (SELECT min(cnt) FROM counts) / cnt)
                    AS BIGINT) AS rate
        FROM counts)
    SELECT d.doc_id, d.lang,
           ((d.doc_id % 1000) * {_SAMPLE_K % 1000}) % 1000 AS bucket
    FROM documents d JOIN rates r USING (lang)
    WHERE ((d.doc_id % 1000) * {_SAMPLE_K % 1000}) % 1000 < r.rate
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling that rebalances languages to
    the smallest language's size (the domain-mixing step of corpus
    prep; `lang` is the skewed stratum in this corpus — `source` is
    uniform by construction, which would make the rebalance vacuous):
    per-language keep-rate = 1000 * min_count / count per-mille, kept
    iff its hash bucket falls under the rate. Hash-based (not
    sampleBy/rand): the decision is a pure function of the row, so the
    sample is reproducible across runs, engines, and partitionings —
    the property a training-data pipeline needs for auditable mixes.

    Scale: one groupBy for the per-language counts (tiny result —
    cardinality of `lang`), broadcast back; the keep-filter is
    map-only over the fact table. No per-row state, no rand()."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    # global min via a window over the counts frame — it is
    # stratum-cardinality-sized (a handful of rows), so the single
    # window task is trivial, and it avoids a scalar cross join
    mn = F.min("cnt").over(Window.partitionBy(F.lit(1)))
    rates = counts.select(
        "lang",
        F.floor(F.lit(1000.0) * mn / F.col("cnt")).cast("long").alias("rate"),
    )
    # reduced form of (doc_id * K) % 1000 — value-identical by modular
    # arithmetic, but free of int64 overflow for ANY doc_id (the naive
    # product overflows at doc_id ~3.5e9, which a 100 TB corpus or the
    # probe tooling's ID_OFFSET replication exceeds; ANSI mode would
    # fail the job there)
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(1000)) * F.lit(_SAMPLE_K % 1000),
        F.lit(1000),
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("rate"))
        .select("doc_id", "lang", bucket.alias("bucket"))
    )


MIX_ALPHA = 0.5  # temperature exponent; 1.0 = proportional, 0 = uniform
MIX_BUDGET = 100_000  # target token budget for the mixture

# SQL twin of the _mixing_targets plan chain, shared by the
# mixing_weights and mixing_apply oracles (the _SPANS_CTES idiom)
_MIX_PLAN_CTES = f"""t AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(toks)) AS BIGINT) AS n_tokens
        FROM (SELECT lang, {_TOKENIZE_SQL.format(col='text')} AS toks
              FROM documents)
        GROUP BY lang),
    w AS (
        SELECT lang, n_docs, n_tokens,
               sqrt(CAST(n_tokens AS DOUBLE)) AS wr,
               sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER () AS tot
        FROM t)"""


@register(
    "mixing_weights",
    f"""
    WITH {_MIX_PLAN_CTES}
    SELECT lang, n_docs, n_tokens,
           round(wr / tot, 4) AS mix_share,
           CAST(floor(wr / tot * {MIX_BUDGET}) AS BIGINT) AS target_tokens,
           round(least(1.0, floor(wr / tot * {MIX_BUDGET}) / n_tokens), 4)
             AS sample_rate
    FROM w
    """,
)
def q_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing weights (the data-mixture step
    of pretraining recipes): per-language token mass raised to
    MIX_ALPHA and renormalized gives each domain's share of the
    MIX_BUDGET-token mixture — α<1 up-samples low-resource domains
    relative to proportional sampling (the multilingual-balancing
    motivation) — plus the per-domain sampling rate that realizes the
    target. α=0.5 lets both engines compute the power as sqrt (exactly
    rounded per IEEE, so the twin is ulp-identical; general pow()
    would be libm-dependent). Composes with stratified_sample: this
    query PLANS the mixture, that one EXECUTES a deterministic
    per-row sample.

    Scale: one tokenize scan + one groupBy to domain cardinality;
    the normalization window runs over the handful of domain rows."""
    d = _spread(_t(spark, sf_dir, "documents"))
    t, wr, tot, target = _mixing_targets(_doc_token_counts(d))
    return t.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(wr / tot, 4).alias("mix_share"),
        target.alias("target_tokens"),
        F.round(
            F.least(F.lit(1.0), target / F.col("n_tokens")), 4
        ).alias("sample_rate"),
    )


def _doc_token_counts(d: DataFrame) -> DataFrame:
    """(doc_id, lang, n) per-document token counts — the single
    tokenize pass both mixture queries derive from."""
    return d.select(
        "doc_id",
        "lang",
        F.size(normalized_tokens(F.col("text"))).alias("n"),
    )


def _mixing_targets(counts: DataFrame):
    """Shared mixture-plan frame (the quality_weight_frame idiom) over
    a _doc_token_counts projection: the per-domain aggregate plus the
    alpha=0.5 share/target expressions, consumed by mixing_weights
    (the plan) and mixing_apply (its execution). Returns
    (frame, wr, tot, target) columns over it."""
    t = counts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("n_tokens"),
    )
    wr = F.sqrt(F.col("n_tokens").cast("double"))
    tot = F.sum(wr).over(Window.partitionBy(F.lit(1)))
    target = F.floor(wr / tot * MIX_BUDGET).cast("long")
    return t, wr, tot, target


@register(
    "mixing_apply",
    f"""
    WITH {_MIX_PLAN_CTES},
    th AS (
        SELECT lang,
               CAST(floor(1000 * least(1.0,
                        CAST(floor(wr / tot * {MIX_BUDGET}) AS DOUBLE)
                        / n_tokens)) AS BIGINT) AS keep_lt
        FROM w)
    SELECT d.doc_id, d.lang,
           CAST(len({_TOKENIZE_SQL.format(col='d.text')}) AS BIGINT)
             AS n_tokens,
           ((d.doc_id % 1000) * {_SAMPLE_K % 1000}) % 1000 AS bucket
    FROM documents d JOIN th USING (lang)
    WHERE ((d.doc_id % 1000) * {_SAMPLE_K % 1000}) % 1000 < th.keep_lt
    """,
)
def q_mixing_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the alpha-temperature mixing plan: each domain's
    sample_rate (target_tokens / n_tokens, capped at 1) quantizes to a
    per-mille keep threshold, and a document survives iff its
    deterministic hash bucket clears its domain's threshold — the
    plan→apply closure for data mixtures (mixing_weights plans,
    this materializes; the stratified_sample discipline: pure function
    of the row, reproducible across runs, engines, partitionings).
    Per-doc token counts ride along so the realized token budget is
    one groupBy over this manifest. Per-mille quantization is the
    documented honest granularity (rates move in 0.1% steps, same as
    stratified_sample).

    Scale: the threshold table is domain-cardinality-sized and
    broadcasts; the keep filter is map-only over the fact table."""
    d = _spread(_t(spark, sf_dir, "documents"))
    # one tokenize pass, persisted: the plan aggregate AND the output
    # n_tokens column both read it (review finding — the naive form
    # tokenized the corpus twice)
    base = _persist(_doc_token_counts(d))
    t, wr, tot, target = _mixing_targets(base)
    th = t.select(
        "lang",
        F.floor(
            1000
            * F.least(
                F.lit(1.0), target.cast("double") / F.col("n_tokens")
            )
        )
        .cast("long")
        .alias("keep_lt"),
    )
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(1000)) * F.lit(_SAMPLE_K % 1000),
        F.lit(1000),
    )
    return (
        base.join(F.broadcast(th), "lang")
        .filter(bucket < F.col("keep_lt"))
        .select(
            "doc_id",
            "lang",
            F.col("n").cast("long").alias("n_tokens"),
            bucket.alias("bucket"),
        )
    )


# ---------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------

# Conservative regexes that parse identically under Java regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround, no \b.
_PAT_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PAT_CARD = r"\d{4}-\d{4}-\d{4}-\d{4}"
_PAT_IP = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


def pii_scrub_exprs(t: F.Column) -> dict[str, F.Column]:
    """The scrub pipeline as reusable column expressions over a text
    column: occurrence counts per PII class + the fully redacted text.
    Redaction/count order is pinned (email → card → IP; n_ip counted
    post-email-redaction) — see q_pii_scrub."""
    no_email = F.regexp_replace(t, _PAT_EMAIL, "<EMAIL>")
    scrubbed = F.regexp_replace(
        F.regexp_replace(no_email, _PAT_CARD, "<CARD>"), _PAT_IP, "<IP>"
    )
    return {
        "n_email": F.regexp_count(t, F.lit(_PAT_EMAIL)),
        "n_card": F.regexp_count(t, F.lit(_PAT_CARD)),
        "n_ip": F.regexp_count(no_email, F.lit(_PAT_IP)),
        "scrubbed": scrubbed,
    }


@register(
    "pii_scrub",
    f"""
    WITH aug AS (
        SELECT doc_id,
               concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                      '@mail.example from 10.',
                      CAST(doc_id % 256 AS VARCHAR),
                      '.0.1 card 4111-1111-1111-',
                      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
                 AS t
        FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(t, '{_PAT_EMAIL}')) AS n_email,
           len(regexp_extract_all(t, '{_PAT_CARD}')) AS n_card,
           len(regexp_extract_all(
               regexp_replace(t, '{_PAT_EMAIL}', '<EMAIL>', 'g'),
               '{_PAT_IP}')) AS n_ip,
           md5(regexp_replace(regexp_replace(regexp_replace(
                   t, '{_PAT_EMAIL}', '<EMAIL>', 'g'),
                   '{_PAT_CARD}', '<CARD>', 'g'),
                   '{_PAT_IP}', '<IP>', 'g')) AS scrub_fp
    FROM aug
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (email / payment-card / IPv4): count
    occurrences, replace with typed placeholder tokens, fingerprint the
    scrubbed text. The generated corpus contains no organic PII, so the
    query PLANTS one deterministic instance of each class per document
    (a pure function of doc_id, computed identically by the oracle) —
    the regex engines, replacement order, and counters are what is
    under test; unit tests cover multi-occurrence and overlap cases.

    Order matters and is pinned: email → card → IP (emails are counted
    and redacted before the IP pass so a digit-bearing mail domain
    can't double-count as an address; n_ip is counted after email
    redaction for the same reason).

    Scale: map-only single scan, all regexes JVM codegen'd
    (RegExpReplace/RegExpCount), no shuffle — the canonical
    100 TB scrub pass."""
    d = _spread(_t(spark, sf_dir, "documents"))
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 card 4111-1111-1111-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    base = d.select("doc_id", aug.alias("t"))
    e = pii_scrub_exprs(F.col("t"))
    return base.select(
        "doc_id",
        # counts widen to long: exact width-match with the oracle's
        # BIGINT len() columns (type_audit width discipline)
        e["n_email"].cast("long").alias("n_email"),
        e["n_card"].cast("long").alias("n_card"),
        e["n_ip"].cast("long").alias("n_ip"),
        F.md5(e["scrubbed"]).alias("scrub_fp"),
    )


# ---------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------

DECONTAM_K = 3  # production uses 8-13-gram windows; 3 matches the
# generated corpus's ~30-token docs (5-grams almost never recur)
DECONTAM_FLAG = 0.5  # contaminated if >= this fraction of shingles hit


@register(
    "decontaminate",
    f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh_list)) AS s
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(len(toks) - {DECONTAM_K - 1}, 0) + 1),
                       i -> array_to_string(
                           list_slice(toks, i, i + {DECONTAM_K - 1}), ' ')
                   ) AS sh_list
            FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
                  FROM documents))
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
    hits AS (
        SELECT doc_id, count(*) AS n_contaminated
        FROM tr JOIN ev USING (s) GROUP BY doc_id),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id)
    SELECT doc_id, n_shingles, n_contaminated,
           round(CAST(n_contaminated AS DOUBLE) / n_shingles, 4)
             AS contamination_ratio,
           CASE WHEN CAST(n_contaminated AS DOUBLE) / n_shingles
                     >= {DECONTAM_FLAG} THEN 1 ELSE 0 END
             AS flag_contaminated
    FROM hits JOIN sizes USING (doc_id)
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing
    k-token shingles with a held-out eval set (here: every 97th doc
    stands in for the benchmark — the generated corpus has no external
    benchmark, and a deterministic id-slice keeps the oracle exact).
    Emits per-document overlap counts, ratio, and the contaminated
    flag; only documents with at least one hit appear (the 100 TB
    report is the exception list, not the full corpus).

    Scale: the eval shingle set is benchmark-sized (tiny relative to
    the corpus) and DISTINCT — it broadcasts; contamination detection
    is then a broadcast semi-join on the 8-byte shingle hash, map-only
    over the training side. Two aggregations share the exploded
    shingle index (persisted once). No all-pairs anything."""
    d = _spread(_t(spark, sf_dir, "documents"))
    sh = (
        d.select("doc_id", normalized_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                shingles_of_tokens(F.col("toks"), k=DECONTAM_K)
            ).alias("s"),
        )
        .select("doc_id", F.xxhash64("s").alias("s"))
    )
    # eval build + training probe both read the shingle stream
    sh = _persist(sh)
    ev = sh.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
    tr = sh.filter(F.col("doc_id") % 97 != 0)
    hits = (
        tr.join(F.broadcast(ev), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    sizes = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    ratio = F.col("n_contaminated").cast("double") / F.col("n_shingles")
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(ratio, 4).alias("contamination_ratio"),
        F.when(ratio >= DECONTAM_FLAG, 1).otherwise(0).alias(
            "flag_contaminated"
        ),
    )


# ---------------------------------------------------------------------
# Sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------

SEQ_LEN = 128  # tokens per packed training sequence


@register(
    "sequence_packing",
    f"""
    WITH d AS (
        SELECT doc_id, len(toks) AS n
        FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
              FROM documents)
        WHERE len(toks) > 0),
    placed AS (
        SELECT doc_id, n,
               CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) - n AS start
        FROM d),
    e AS (
        SELECT doc_id, n, start, start + n AS fin,
               unnest(range(start // {SEQ_LEN},
                            (start + n - 1) // {SEQ_LEN} + 1)) AS seq_id
        FROM placed)
    SELECT seq_id,
           count(*) AS n_docs,
           CAST(sum(least(fin, (seq_id + 1) * {SEQ_LEN})
                    - greatest(start, seq_id * {SEQ_LEN})) AS BIGINT)
             AS n_tokens,
           CAST(sum(CASE WHEN start < seq_id * {SEQ_LEN} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_carry_in,
           min(doc_id) AS first_doc
    FROM e GROUP BY seq_id
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, concat-and-chunk (the GPT-pretraining layout):
    documents are concatenated in doc_id order into one global token
    stream, which is cut into fixed SEQ_LEN-token training sequences;
    documents may span a cut. Emits the per-sequence manifest — how
    many documents contribute, tokens filled (== SEQ_LEN except the
    tail), how many docs carried over a boundary, and the first doc —
    i.e. the metadata an attention-mask/packing loader needs.

    The global running offset is computed WITHOUT a single-partition
    window (the plans/load.py id-allocation discipline): range-
    partition by doc_id → per-partition running sums (parallel) →
    exclusive prefix-sum of per-partition totals over ~n_partitions
    rows → broadcast the offsets back. Same result as
    sum() OVER (ORDER BY doc_id) — the oracle's formulation — at any
    partition count; pinned partitioning-invariant by test.

    Scale: one range exchange + one broadcast join + one groupBy on
    seq_id; the explode fans out ~n/SEQ_LEN rows per doc (≥1), all
    narrow (ids and offsets only)."""
    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id", F.size(normalized_tokens(F.col("text"))).alias("n")
        )
        .filter(F.col("n") > 0)
    )
    part = d.repartitionByRange("doc_id").withColumn(
        "_pid", F.spark_partition_id()
    )
    # persisted: offsets + placement both read the range exchange, and
    # both must see ONE materialization (a retry could resample range
    # bounds and shift partition ids — the load.py lesson)
    local = _persist(
        part.withColumn(
            "_local_end",
            F.sum("n").over(
                Window.partitionBy("_pid")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum("n").alias("_cnt"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("_cnt")
    )
    placed = (
        local.join(F.broadcast(offsets), "_pid")
        .select(
            "doc_id",
            "n",
            (F.col("_local_end") + F.col("_offset") - F.col("n")).alias(
                "start"
            ),
        )
        .withColumn("fin", F.col("start") + F.col("n"))
    )
    e = placed.select(
        "doc_id",
        "start",
        "fin",
        F.explode(
            F.sequence(
                F.expr(f"start div {SEQ_LEN}"),
                F.expr(f"(fin - 1) div {SEQ_LEN}"),
            )
        ).alias("seq_id"),
    )
    lo = F.col("seq_id") * SEQ_LEN
    return e.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.least(F.col("fin"), lo + SEQ_LEN) - F.greatest(F.col("start"), lo)
        ).alias("n_tokens"),
        F.sum(F.when(F.col("start") < lo, 1).otherwise(0)).alias(
            "n_carry_in"
        ),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------
# Repetition quality gates (Gopher-style)
# ---------------------------------------------------------------------

# Gopher-family repetition thresholds (Rae et al. 2021, table A1
# spirit): a document fails when one token or bigram dominates it.
# Production web-text values are ~0.30/0.20; tightened here to the
# generated corpus's compact ~30-token docs (whose max observed
# fractions are 0.30/0.17 — the production gate would be vacuously
# all-pass) so the reject path is exercised end-to-end (~2% fail).
TOP_UNIGRAM_MAX = 0.20
TOP_BIGRAM_MAX = 0.125
# each gate needs enough mass to be meaningful: a 7-bigram doc has
# top_bigram_frac >= 1/7 > 0.125 by pigeonhole even when fully
# distinct, so short docs would auto-fail. Gopher applies the same
# family of min-length prerequisites before its repetition rules.
MIN_TOKENS_FOR_UNIGRAM_GATE = 10
MIN_BIGRAMS_FOR_BIGRAM_GATE = 16


@register(
    "repetition_gates",
    f"""
    WITH base AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) >= 2 THEN
                   list_transform(range(1, len(toks)),
                                  i -> array_to_string(
                                      list_slice(toks, i, i + 1), ' '))
               ELSE [] END AS bi
        FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
              FROM documents)
        WHERE len(toks) > 0),
    m AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               list_max(list_transform(list_distinct(toks),
                   t -> len(list_filter(toks, x -> x = t)))) AS top_uni,
               len(bi) AS n_bigrams,
               CASE WHEN len(bi) = 0 THEN 0
                    ELSE list_max(list_transform(list_distinct(bi),
                        b -> len(list_filter(bi, x -> x = b)))) END
                 AS top_bi,
               CASE WHEN len(bi) = 0 THEN 0
                    ELSE len(bi) - len(list_distinct(bi)) END AS dup_bi
        FROM base)
    SELECT doc_id, n_tokens,
           round(CAST(top_uni AS DOUBLE) / n_tokens, 4)
             AS top_unigram_frac,
           round(CASE WHEN n_bigrams = 0 THEN 0.0
                 ELSE CAST(top_bi AS DOUBLE) / n_bigrams END, 4)
             AS top_bigram_frac,
           round(CASE WHEN n_bigrams = 0 THEN 0.0
                 ELSE CAST(dup_bi AS DOUBLE) / n_bigrams END, 4)
             AS dup_bigram_frac,
           CASE WHEN (n_tokens < {MIN_TOKENS_FOR_UNIGRAM_GATE}
                      OR CAST(top_uni AS DOUBLE) / n_tokens
                         <= {TOP_UNIGRAM_MAX})
                 AND (n_bigrams < {MIN_BIGRAMS_FOR_BIGRAM_GATE}
                      OR CAST(top_bi AS DOUBLE) / n_bigrams
                         <= {TOP_BIGRAM_MAX})
                THEN 1 ELSE 0 END AS gate_pass
    FROM m
    """,
)
def q_repetition_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gates: a document is rejected
    when its most frequent token or most frequent bigram exceeds the
    TOP_UNIGRAM_MAX / TOP_BIGRAM_MAX share of the document;
    duplicate-bigram mass is emitted as a diagnostic. Complements
    text_profile (which scores length/punctuation/stopwords/TTR) with
    the repetition family — together they are the standard
    pre-training quality screen."""
    return repetition_metrics(
        _spread(_t(spark, sf_dir, "documents")), "doc_id", "text"
    )


def repetition_metrics(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """The gates as a stateless DataFrame operator (the batch query
    above and the streaming twin in streaming/corpus.py both call
    this — per-row expressions are streaming-legal as-is).

    Scale: map-only single scan, everything codegen'd JVM-side. The
    per-doc top-count is O(distinct × n) in expression form — fine for
    web-scale documents of ordinary length; a pathological many-MB
    document would route through an Arrow kernel like
    functions/hashes.py (same plan shape)."""
    d = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    toks = normalized_tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") > 0
    )
    n = F.size("toks")
    bi = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = base.select("doc_id", "toks", bi.alias("bi"))

    def top_count(arr):
        return F.array_max(
            F.transform(
                F.array_distinct(arr),
                lambda t: F.size(F.filter(arr, lambda x: x == t)),
            )
        )

    nb = F.size("bi")
    m = base.select(
        "doc_id",
        n.alias("n_tokens"),
        top_count(F.col("toks")).alias("top_uni"),
        nb.alias("n_bigrams"),
        F.when(nb == 0, F.lit(0))
        .otherwise(top_count(F.col("bi")))
        .alias("top_bi"),
        F.when(nb == 0, F.lit(0))
        .otherwise(nb - F.size(F.array_distinct("bi")))
        .alias("dup_bi"),
    )
    uni_f = F.col("top_uni").cast("double") / F.col("n_tokens")
    bi_f = F.when(F.col("n_bigrams") == 0, F.lit(0.0)).otherwise(
        F.col("top_bi").cast("double") / F.col("n_bigrams")
    )
    dup_f = F.when(F.col("n_bigrams") == 0, F.lit(0.0)).otherwise(
        F.col("dup_bi").cast("double") / F.col("n_bigrams")
    )
    return m.select(
        "doc_id",
        # long: exact width-match with the oracle's BIGINT len()
        # (type_audit width discipline)
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(uni_f, 4).alias("top_unigram_frac"),
        F.round(bi_f, 4).alias("top_bigram_frac"),
        F.round(dup_f, 4).alias("dup_bigram_frac"),
        F.when(
            (
                (F.col("n_tokens") < MIN_TOKENS_FOR_UNIGRAM_GATE)
                | (uni_f <= TOP_UNIGRAM_MAX)
            )
            & (
                (F.col("n_bigrams") < MIN_BIGRAMS_FOR_BIGRAM_GATE)
                | (bi_f <= TOP_BIGRAM_MAX)
            ),
            1,
        )
        .otherwise(0)
        .alias("gate_pass"),
    )


# ---------------------------------------------------------------------
# Passage-level duplicate detection
# ---------------------------------------------------------------------

PASSAGE_W = 8  # tokens per passage; production exact-substring dedup
# uses ~50-token windows (Lee et al. 2022, arXiv:2107.06499) — 8
# matches this corpus's ~30-token documents


@register(
    "duplicate_passages",
    f"""
    WITH p AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, len(toks) // {PASSAGE_W}),
                   j -> array_to_string(
                       list_slice(toks, j * {PASSAGE_W} + 1,
                                  j * {PASSAGE_W} + {PASSAGE_W}), ' ')
               )) AS passage
        FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
              FROM documents))
    SELECT md5(passage) AS passage_key,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs,
           min(doc_id) AS first_doc
    FROM p GROUP BY passage
    HAVING count(DISTINCT doc_id) >= 2
    """,
)
def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level duplicate detection (the exact-substring-dedup
    family of Lee et al. 2022 'Deduplicating Training Data Makes
    Language Models Better', done at passage granularity): documents
    are cut into non-overlapping PASSAGE_W-token windows; any passage
    appearing in ≥2 distinct documents is reported with its occurrence
    and document counts and earliest carrier. Document-level dedup
    (exact_dedup / minhash) misses shared boilerplate inside otherwise
    distinct documents — this is the operator that catches it.

    Scale: explode is ~n/W rows per doc; one groupBy on the passage
    hash key (map-side partial aggregation applies), no joins. A
    remove-pass composes as a semi-join of exploded passages against
    this table."""
    d = _spread(_t(spark, sf_dir, "documents"))
    toks = normalized_tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("toks"))
    # degenerate guard (the shingles_of_tokens lesson): for docs
    # shorter than one window, sequence(0, -1) DESCENDS and the slice
    # then crashes the stage — emit an empty passage list instead,
    # matching the oracle's range(0, 0)
    windows = F.expr(
        f"case when size(toks) >= {PASSAGE_W} then"
        f" transform(sequence(0, cast(size(toks) / {PASSAGE_W} as int) - 1),"
        f" j -> concat_ws(' ', slice(toks, j * {PASSAGE_W} + 1,"
        f" {PASSAGE_W})))"
        f" else array() end"
    )
    passages = base.select(
        "doc_id", F.explode(windows).alias("passage")
    )
    return (
        passages.groupBy("passage")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.md5("passage").alias("passage_key"),
            "n_occurrences",
            "n_docs",
            "first_doc",
        )
    )


SPAN_W = PASSAGE_W  # stride-1 window width for exact-substring spans


def _window_hash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, h): one row per stride-1 SPAN_W-token window,
    h = rolling Karp-Rabin hash of the per-token xxhash64 stream —
    the shared front end of the ExactSubstr family
    (duplicate_spans / _apply / _keep_first). Linear per document:
    token hashing is JVM codegen, the window combine is one Arrow
    kernel pass (functions/hashes.rolling_window_hashes_batch), and
    only (8-byte hash, position) rows ever leave the mapper."""
    from clinvar_pipeline_spark.functions.hashes import (
        rolling_window_hashes_batch,
    )

    d = _spread(_t(spark, sf_dir, "documents"))
    toks = normalized_tokens(F.col("text"))
    # no size pre-filter: the kernel emits an empty hash array for
    # sub-window docs and posexplode drops it. A filter on the
    # aliased array would be pushdown-substituted below the
    # projection and run the tokenizer a SECOND time per row (the
    # text_profile CSE lesson, r7) — and unlike the explode-of-toks
    # frames, no equivalent filter gets re-inferred here because the
    # generator input is the kernel's output, so the whole window
    # pass now tokenizes exactly once.
    base = d.select("doc_id", toks.alias("toks"))
    roll = rolling_window_hashes_batch(SPAN_W)
    th = F.expr("transform(toks, t -> xxhash64(t))")
    return base.select(
        "doc_id", F.posexplode(roll(th)).alias("pos", "h")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "h")


def _spans_ctes(d_def: str) -> str:
    """The ExactSubstr oracle CTE chain, parameterized on the
    marked-window set ``d`` (doc_id, pos) so the cut-all and
    keep-first policies share every other stage (the _FUNNEL_SQL
    one-definition idiom)."""
    return f"""
    WITH tok AS (
        SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
        FROM documents),
    idx AS (
        SELECT doc_id, toks,
               unnest(range(1, len(toks) - {SPAN_W} + 2)) AS i
        FROM tok WHERE len(toks) >= {SPAN_W}),
    win AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(list_slice(toks, i, i + {SPAN_W} - 1), ' ')
                 AS s
        FROM idx),
    {d_def},
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (
                        PARTITION BY doc_id ORDER BY pos) > {SPAN_W}
                    THEN 1 ELSE 0 END AS brk
        FROM d),
    grp AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS g
        FROM isl),
    spans AS (
        SELECT doc_id,
               min(pos) AS span_start,
               max(pos) + {SPAN_W} AS span_end,
               CAST(count(*) AS BIGINT) AS n_windows
        FROM grp GROUP BY doc_id, g)
"""


# cut-ALL-occurrences policy (duplicate_spans / _apply): every
# occurrence of a duplicated window is marked
_SPANS_CTES = _spans_ctes(
    """dup AS (SELECT s FROM win GROUP BY s HAVING count(*) > 1),
    d AS (SELECT w.doc_id, w.pos FROM win w JOIN dup USING (s))"""
)

# keep-FIRST-occurrence policy: the globally-first occurrence of each
# window string (min (doc_id, pos) — ROW_NUMBER over occurrences)
# survives; only later occurrences are marked
_SPANS_KEEP_FIRST_CTES = _spans_ctes(
    """occ AS (
        SELECT doc_id, pos, row_number() OVER (
            PARTITION BY s ORDER BY doc_id, pos) AS rn
        FROM win),
    d AS (SELECT doc_id, pos FROM occ WHERE rn > 1)"""
)


def _merge_marked_to_spans(marked: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of marked window starts into maximal
    [span_start, span_end) token spans — per-DOCUMENT windows,
    parallel at any corpus size (shared by both span policies)."""
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(wdoc) > SPAN_W, 1
    ).otherwise(0)
    grp = marked.select("doc_id", "pos", brk.alias("brk")).select(
        "doc_id",
        "pos",
        F.sum("brk")
        .over(wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("g"),
    )
    return grp.groupBy("doc_id", "g").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + SPAN_W).alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).drop("g")


@register(
    "duplicate_spans",
    f"""
    {_SPANS_CTES}
    SELECT doc_id, span_start, span_end, n_windows FROM spans
    """,
)
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate SPANS (Lee et al. 2022's ExactSubstr
    semantics, the stride-1 upgrade of duplicate_passages): every
    {SPAN_W}-token window whose token string occurs more than once in
    the corpus (any doc, including self-repeats) marks its positions
    duplicated; per document, marked window starts are merged
    gaps-and-islands style (break when the next start clears the
    previous window entirely, i.e. gap > {SPAN_W}) into maximal
    [span_start, span_end) token spans. This is the cut-list an
    exact-substring dedup pass applies — a suffix-array build finds
    the same regions; the windowed form is the shuffle-native
    equivalent with minimum-match-length {SPAN_W}.

    Scale: the window pass is LINEAR — per-token xxhash64 runs
    JVM-side (8 bytes/token cross Arrow, never strings), and a
    rolling Karp-Rabin kernel (functions/hashes.
    rolling_window_hashes_batch, the cdc_chunks machinery lifted to
    token streams) turns the hash stream into all stride-1 window
    hashes in O(n) per doc — not the O(n*W) bytes the previous
    per-window ``concat_ws(slice(...))`` materialized (r6 judge
    finding; pinned value-equal to that kernel by
    tests/test_exact_substr.py and the 10x probe). Downstream moves
    8-byte hashes and positions only: one groupBy for the
    duplicated-window set, one semi-join back (hash equi-join, no
    pairs are formed — df skew on boilerplate windows stays linear),
    and the island merge is a per-DOCUMENT window — parallel at any
    corpus size. Window content never leaves the mappers (the key is
    not in the result, the decontaminate discipline)."""
    win = _window_hash_frame(spark, sf_dir)
    # dup-set build + position semi-join both read the Karp-Rabin
    # kernel's output — the costliest recompute in the registry
    win = _persist(win)
    dup = (
        win.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    marked = win.join(dup, "h", "left_semi")
    return _merge_marked_to_spans(marked)


@register(
    "duplicate_spans_keep_first",
    f"""
    {_SPANS_KEEP_FIRST_CTES}
    SELECT doc_id, span_start, span_end, n_windows FROM spans
    """,
)
def q_duplicate_spans_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate_spans under the KEEP-ONE-OCCURRENCE policy: the
    globally-first occurrence of each duplicated window — min
    (doc_id, pos), the same deterministic total order corpus_shuffle's
    prefix-sum rank uses — is NOT marked, so exactly one copy of each
    duplicated string survives the cut (up to span overlap in the
    surviving document, pinned by the conservation contract test).
    Lee et al.'s released ExactSubstr tooling defaults to
    cut-everything (duplicate_spans); some pipelines instead keep one
    canonical copy — this is that mode as its own cut list.

    Scale: identical plan family — the linear rolling-hash window
    pass, then ONE h-keyed groupBy picking min(struct(doc_id, pos))
    (a 16-byte aggregate per distinct window, no global order
    needed because min over the struct IS the global
    first-occurrence pick), one h-equi-join back, and the per-doc
    island merge. No new shuffle shape vs duplicate_spans."""
    win = _window_hash_frame(spark, sf_dir)
    win = _persist(win)  # first-pick build + position join
    # carry the occurrence count with the first pick so singleton
    # windows (c == 1, the majority on a mostly-unique corpus) never
    # ride the join back — they'd only be filtered out afterwards.
    # Same single h-keyed aggregate, roughly half the join input.
    firsts = (
        win.groupBy("h")
        .agg(
            F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("f"),
            F.count(F.lit(1)).alias("c"),
        )
        .filter(F.col("c") > 1)
        .drop("c")
    )
    marked = (
        win.join(firsts, "h")
        .filter(
            (F.col("doc_id") != F.col("f.doc_id"))
            | (F.col("pos") != F.col("f.pos"))
        )
        .select("doc_id", "pos")
    )
    return _merge_marked_to_spans(marked)


@register(
    "duplicate_spans_apply",
    f"""
    {_SPANS_CTES},
    removed AS (
        SELECT doc_id, unnest(range(span_start, span_end)) AS p
        FROM spans),
    rem AS (SELECT doc_id, count(*) AS n_removed
            FROM removed GROUP BY doc_id),
    posx AS (
        SELECT doc_id, i - 1 AS p, toks[i] AS t
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
              FROM tok WHERE len(toks) > 0)),
    keptx AS (
        SELECT px.doc_id, px.p, px.t
        FROM posx px LEFT JOIN removed r
          ON px.doc_id = r.doc_id AND px.p = r.p
        WHERE r.doc_id IS NULL),
    ks AS (SELECT doc_id, string_agg(t, ' ' ORDER BY p) AS s
           FROM keptx GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(rm.n_removed, 0) AS BIGINT) AS n_removed,
           md5(coalesce(ks.s, '')) AS kept_fp
    FROM tok t
    LEFT JOIN rem rm USING (doc_id)
    LEFT JOIN ks USING (doc_id)
    WHERE len(t.toks) > 0
    """,
)
def q_duplicate_spans_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the exact-substring cut list: remove every duplicated
    span from every document and emit the per-document result manifest
    (token counts before/removed + md5 fingerprint of the kept token
    stream). Removal policy is ALL OCCURRENCES — deterministic and
    join-free across occurrences; a keep-one-occurrence policy needs a
    global first-occurrence pick, which is what cluster_dedup_apply
    provides at document granularity (documented trade-off, matching
    the released ExactSubstr tooling's cut-everything default).

    Scale: the spans re-derive (same audited plan), aggregate to a
    per-doc span list (doc-keyed narrow join), and the cut itself is
    an in-row array filter — token strings never enter a shuffle; the
    fingerprint hashes in the same mapper."""
    spans = q_duplicate_spans(spark, sf_dir)
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("_n_removed"),
    )
    d = _spread(_t(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id", normalized_tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    kept = F.expr(
        "filter(toks, (t, i) -> _spans is null or not exists(_spans,"
        " s -> i >= s.span_start and i < s.span_end))"
    )
    return (
        base.join(sp, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.coalesce(F.col("_n_removed"), F.lit(0))
            .cast("long")
            .alias("n_removed"),
            F.md5(F.concat_ws(" ", kept)).alias("kept_fp"),
        )
    )


# ---------------------------------------------------------------------
# Dedup application (detect -> remove)
# ---------------------------------------------------------------------

@register(
    "dedup_apply",
    f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh_list)) AS shingle
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')
                   ) AS sh_list
            FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
                  FROM documents))
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    drops AS (
        SELECT DISTINCT id_b AS doc_id FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d LEFT JOIN drops USING (doc_id)
    WHERE drops.doc_id IS NULL
    """,
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVE half of near-dedup (detect -> apply): materialize
    the kept corpus by anti-joining the MinHash-LSH verified pair
    table's higher-id sides out of the documents — greedy-by-id, the
    same parallel survivor policy as SemDeDup (a doc drops iff ANY
    lower-id doc is within threshold; no iterative components pass).
    Composes the registry's own minhash_lsh_pairs output, so at 100 TB
    this is one extra broadcast/hash anti-join after the dedup job —
    the step every pipeline actually ships.

    Oracle: the same drop set from the exact inverted-index join at
    the verify threshold (LSH generation is exact at this corpus per
    minhash_lsh_pairs' parameterization)."""
    from clinvar_pipeline_spark.operators.dedup import (
        minhash_lsh_candidate_pairs,
    )

    d = _spread(_t(spark, sf_dir, "documents"))
    pairs = minhash_lsh_candidate_pairs(
        d,
        id_col="doc_id",
        text_col="text",
        num_hashes=207,
        bands=69,
        threshold=0.5,
    )
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return d.join(drops, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


# ---------------------------------------------------------------------
# Dedup clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------

# ONE oracle source of truth for the n-gram-Jaccard pair graph and its
# recursive transitive closure, shared by dedup_clusters,
# cluster_dedup_apply, and _FUNNEL_SQL — the engine side equally
# shares q_ngram_jaccard_pairs + _cc_over_ngram_pairs, so a future
# change to the pair semantics (cap, threshold, shingle width) has
# exactly one place to land on each side instead of silently
# diverging across three pasted copies. Yields CTEs: sh, sizes, shj,
# inter, pairs, edges, reach, comp(node, cluster_id),
# drops(doc_id = every non-minimum cluster member). Callers prepend
# `WITH RECURSIVE` and append their own CTEs / final select.
_NGRAM_CC_CTES = f"""sh AS (
        SELECT doc_id, unnest(list_distinct(sh_list)) AS shingle
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')
                   ) AS sh_list
            FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
                  FROM documents))
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shj AS (
        SELECT s.* FROM sh s
        JOIN (SELECT shingle FROM sh GROUP BY shingle
              HAVING count(*) <= {_SHINGLE_DF_CAP}) cold USING (shingle)),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.10),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b AS s, doc_a AS d FROM pairs),
    reach(node, lbl) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
    comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
    drops AS (SELECT node AS doc_id FROM comp WHERE node <> cluster_id)"""


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_NGRAM_CC_CTES},
    csize AS (SELECT cluster_id, count(*) AS cluster_size
              FROM comp GROUP BY cluster_id)
    SELECT node AS doc_id, cluster_id, cluster_size
    FROM comp JOIN csize USING (cluster_id)
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup CLUSTERS: connected components over the
    exact n-gram-Jaccard pair table (queries.q_ngram_jaccard_pairs —
    same edges, same oracle CTEs), labeling every clustered document
    with the smallest doc_id in its component plus the component
    size. This is the step production dedup actually needs between
    pair detection and removal: greedy pair-dropping (dedup_apply)
    handles A~B, but a chain A~B~C where A and C never pair directly
    only collapses to ONE survivor under a transitive cluster label.

    Engine side: operators/graph.connected_components — alternating
    large-star/small-star (Kiveris et al. 2014), O(log^2 n) rounds of
    groupBy+join+distinct on an edge set of two longs per row, skew
    handled as ordinary join skew by AQE. Oracle: DuckDB recursive
    CTE transitive closure (min-label reachability) — exponentially
    sized in the worst case but exact at test scale, which is the
    oracle's job; the engine side is the one that scales.

    Documents in no near-dup pair are absent (the 100 TB report is
    the exception list, as in decontaminate/unmatchable_report)."""
    cc = _cc_over_ngram_pairs(spark, sf_dir)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return cc.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
    )


def _cc_over_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, component) over the exact n-gram-Jaccard pair table —
    shared by dedup_clusters / cluster_dedup_apply / filter_funnel.
    Memoized on the documents read (caching.memo, the quantizer
    discipline): a cluster labeling is CORPUS state, so one session
    running the --corpusPrep chain or the correctness gate runs the
    iterative components job once, not once per dependent query. The
    memoized frame's persist may be released between invocations
    (release_cached); recompute then reads the final round's
    localCheckpointed partitions, not the whole loop."""
    from clinvar_pipeline_spark.operators.graph import connected_components
    from clinvar_pipeline_spark.queries import q_ngram_jaccard_pairs

    def build() -> DataFrame:
        pairs = q_ngram_jaccard_pairs(spark, sf_dir).select(
            "doc_a", "doc_b"
        )
        return connected_components(pairs, "doc_a", "doc_b")

    return memo(("ngram_cc",), _t(spark, sf_dir, "documents"), build)


@register(
    "cluster_dedup_apply",
    f"""
    WITH RECURSIVE {_NGRAM_CC_CTES}
    SELECT d.doc_id, d.lang, d.source
    FROM documents d LEFT JOIN drops USING (doc_id)
    WHERE drops.doc_id IS NULL
    """,
)
def q_cluster_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-canonical dedup apply: keep exactly the smallest-id
    member of every transitive near-dup cluster (dedup_clusters) plus
    every unclustered document. The upgrade over q_dedup_apply's
    greedy pair policy: a chain A~B~C keeps ONE survivor here, and a
    doc whose only near-dup relation is to an already-dropped doc
    cannot be orphan-dropped. One broadcast/hash anti-join downstream
    of the components job."""
    d = _spread(_t(spark, sf_dir, "documents"))
    cc = _cc_over_ngram_pairs(spark, sf_dir)
    drops = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return d.join(drops, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


# ---------------------------------------------------------------------
# Token histogram (corpus Zipf profile — tokenizer/vocab planning)
# ---------------------------------------------------------------------

TOKEN_HISTOGRAM_TOP = 1000


@register(
    "token_histogram",
    f"""
    WITH tok AS (
        SELECT unnest({_TOKENIZE_SQL.format(col='text')}) AS token
        FROM documents),
    counts AS (SELECT token, count(*) AS freq FROM tok GROUP BY token)
    SELECT token, freq FROM counts
    ORDER BY freq DESC, token
    LIMIT {TOKEN_HISTOGRAM_TOP}
    """,
)
def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency head (top {TOKEN_HISTOGRAM_TOP} by
    frequency, ties broken by token so the cutoff is deterministic) —
    the Zipf profile a tokenizer-induction / vocab-size decision
    reads, and the corpus twin of BPE's word_frequencies pass.

    Scale: one explode + one groupBy (map-side partial aggregation
    collapses repeated tokens before the shuffle — token frequency is
    the textbook combiner case), then TakeOrdered for the head: each
    partition ships only its local top-N to the driver merge, never
    the full vocabulary."""
    d = _spread(_t(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(normalized_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(TOKEN_HISTOGRAM_TOP)
    )


# ---------------------------------------------------------------------
# Filter funnel (per-document keep manifest across every screen)
# ---------------------------------------------------------------------

# Quality-classifier training slices (the model screen below and the
# standalone quality_classifier query). The generated corpus has no
# curated seed set, so deterministic id-slices stand in (the
# decontaminate %-97 idiom, which keeps the oracle exact): every
# QC_MOD-th document is the "curated positive" seed (the role
# Wikipedia/books play in CCNet/DCLM), the next residue class the
# random negative sample. Production swaps the slice predicates for
# real seed corpora; the plan shape is identical.
QC_MOD = 7
QC_POS_RES = 0
QC_NEG_RES = 1

# The model chain (slice -> per-token class counts -> smoothed
# log-odds weights + unseen default), shared by the standalone
# quality_classifier oracle and _FUNNEL_SQL's model screen (the
# _SPANS_CTES idiom — one definition, two consumers). Consumers must
# define `qtok(doc_id, t)`: the exploded token stream.
_QC_MODEL_CTES = f"""qtr AS (
        SELECT t, CASE WHEN doc_id % {QC_MOD} = {QC_POS_RES}
                       THEN 1 ELSE 0 END AS pos
        FROM qtok WHERE doc_id % {QC_MOD} IN ({QC_POS_RES}, {QC_NEG_RES})),
    qvoc AS (
        SELECT t, CAST(sum(pos) AS DOUBLE) AS pc,
               CAST(sum(1 - pos) AS DOUBLE) AS nc
        FROM qtr GROUP BY t),
    qtot AS (
        SELECT CAST(sum(pc) AS DOUBLE) AS pt, CAST(sum(nc) AS DOUBLE) AS nt,
               CAST(count(*) AS DOUBLE) AS v
        FROM qvoc),
    qw AS (SELECT t, ln((pc + 1) / (pt + v)) - ln((nc + 1) / (nt + v)) AS w
           FROM qvoc, qtot),
    qunseen AS (SELECT ln((nt + v) / (pt + v)) AS wu FROM qtot)"""


# shared by filter_funnel and funnel_report (the report nests it as a
# subquery — DuckDB allows a WITH RECURSIVE inside a CTE definition)
_FUNNEL_SQL = f"""
    WITH RECURSIVE tok AS (
        SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
        FROM documents),
    gbase AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) >= 2 THEN
                   list_transform(range(1, len(toks)),
                                  i -> array_to_string(
                                      list_slice(toks, i, i + 1), ' '))
               ELSE [] END AS bi
        FROM tok WHERE doc_id % 97 <> 0 AND len(toks) > 0),
    gm AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               list_max(list_transform(list_distinct(toks),
                   t -> len(list_filter(toks, x -> x = t)))) AS top_uni,
               len(bi) AS n_bigrams,
               CASE WHEN len(bi) = 0 THEN 0
                    ELSE list_max(list_transform(list_distinct(bi),
                        b -> len(list_filter(bi, x -> x = b)))) END
                 AS top_bi
        FROM gbase),
    gates AS (
        SELECT doc_id,
               CASE WHEN (n_tokens < {MIN_TOKENS_FOR_UNIGRAM_GATE}
                          OR CAST(top_uni AS DOUBLE) / n_tokens
                             <= {TOP_UNIGRAM_MAX})
                     AND (n_bigrams < {MIN_BIGRAMS_FOR_BIGRAM_GATE}
                          OR CAST(top_bi AS DOUBLE) / n_bigrams
                             <= {TOP_BIGRAM_MAX})
                    THEN 1 ELSE 0 END AS gate_pass
        FROM gm),
    csh AS (
        SELECT doc_id, unnest(list_distinct(sh_list)) AS s
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(len(toks) - {DECONTAM_K - 1}, 0) + 1),
                       i -> array_to_string(
                           list_slice(toks, i, i + {DECONTAM_K - 1}), ' ')
                   ) AS sh_list
            FROM tok)),
    cev AS (SELECT DISTINCT s FROM csh WHERE doc_id % 97 = 0),
    ctr AS (SELECT * FROM csh WHERE doc_id % 97 <> 0),
    chits AS (
        SELECT doc_id, count(*) AS c
        FROM ctr JOIN cev USING (s) GROUP BY doc_id),
    csizes AS (SELECT doc_id, count(*) AS n FROM ctr GROUP BY doc_id),
    contam AS (
        SELECT cs.doc_id,
               CASE WHEN CAST(coalesce(ch.c, 0) AS DOUBLE) / cs.n
                         >= {DECONTAM_FLAG}
                    THEN 1 ELSE 0 END AS contaminated
        FROM csizes cs LEFT JOIN chits ch USING (doc_id)),
    qtok AS (
        SELECT doc_id, unnest(toks) AS t FROM tok WHERE len(toks) > 0),
    {_QC_MODEL_CTES},
    quality AS (
        SELECT doc_id,
               CASE WHEN round(avg(coalesce(w, wu)), 4) > 0
                    THEN 1 ELSE 0 END AS model_keep
        FROM qtok LEFT JOIN qw USING (t) CROSS JOIN qunseen
        GROUP BY doc_id),
    {_NGRAM_CC_CTES}
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           coalesce(g.gate_pass, 0) AS gate_pass,
           coalesce(c.contaminated, 0) AS contaminated,
           coalesce(q.model_keep, 0) AS model_keep,
           CASE WHEN dr.doc_id IS NULL THEN 0 ELSE 1 END AS near_dup_drop,
           CASE WHEN coalesce(g.gate_pass, 0) = 1
                 AND coalesce(c.contaminated, 0) = 0
                 AND coalesce(q.model_keep, 0) = 1
                 AND dr.doc_id IS NULL THEN 1 ELSE 0 END AS keep
    FROM tok t
    LEFT JOIN gates g USING (doc_id)
    LEFT JOIN contam c USING (doc_id)
    LEFT JOIN quality q USING (doc_id)
    LEFT JOIN drops dr USING (doc_id)
    WHERE t.doc_id % 97 <> 0
    """


@register("filter_funnel", _FUNNEL_SQL)
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus filter FUNNEL: one per-training-document manifest
    combining every screen this suite runs — Gopher repetition gates,
    benchmark decontamination, the model-based quality classifier
    (late r6), and transitive near-dup cluster drops — into boolean
    verdict columns and a final ``keep`` flag. This is the table a
    pretraining run actually materializes: per-stage attrition is one
    groupBy over it, and the kept corpus is one filter — instead of
    re-deriving each screen ad hoc.

    Verdict semantics: gate_pass/model_keep default 0 for token-less
    documents (nothing to keep), contaminated/near_dup_drop default 0
    for documents too short to shingle or never paired; keep = passes
    the gate AND uncontaminated AND model-kept AND not a cluster
    drop. Eval-slice documents (doc_id % 97 == 0) are out of scope —
    they are the benchmark, not the corpus (the classifier still
    trains on its id-slices over the full corpus, exactly like the
    standalone quality_classifier query).

    Scale: composes four already-audited plans (map-only gates, the
    broadcast-semi-join contamination check, the broadcast-weight
    model scoring, the components job) with four left joins on
    doc_id — no new shuffle shapes; the funnel costs its inputs, not
    more (and the components labeling is memoized per corpus — see
    _cc_over_ngram_pairs)."""
    d = _spread(_t(spark, sf_dir, "documents"))
    train = d.filter(F.col("doc_id") % 97 != 0)
    base = train.select(
        "doc_id",
        F.size(normalized_tokens(F.col("text"))).cast("long").alias(
            "n_tokens"
        ),
    )
    gates = repetition_metrics(train, "doc_id", "text").select(
        "doc_id", "gate_pass"
    )
    # contamination screen (same build as q_decontaminate, verdict
    # column only)
    sh = _persist(
        d.select("doc_id", normalized_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                shingles_of_tokens(F.col("toks"), k=DECONTAM_K)
            ).alias("s"),
        )
        .select("doc_id", F.xxhash64("s").alias("s"))
    )
    ev = sh.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
    tr = sh.filter(F.col("doc_id") % 97 != 0)
    hits = (
        tr.join(F.broadcast(ev), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sizes = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    contam = sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        F.when(
            F.coalesce(F.col("c"), F.lit(0)).cast("double") / F.col("n")
            >= DECONTAM_FLAG,
            1,
        )
        .otherwise(0)
        .alias("contaminated"),
    )
    # model screen: train once over the full corpus (the standalone
    # quality_classifier semantics), keep verdicts for train docs
    qtok = _persist(doc_tokens(d))
    w, wu = quality_weight_frame(qtok)
    avg_w = F.avg(F.coalesce(F.col("w"), F.lit(wu)))
    quality = (
        qtok.join(F.broadcast(w), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.when(F.round(avg_w, 4) > 0, 1)
            .otherwise(0)
            .alias("model_keep")
        )
    )
    cc = _cc_over_ngram_pairs(spark, sf_dir)
    drops = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"), F.lit(1).alias("_drop")
    )
    gate_pass = F.coalesce(F.col("gate_pass"), F.lit(0))
    contaminated = F.coalesce(F.col("contaminated"), F.lit(0))
    model_keep = F.coalesce(F.col("model_keep"), F.lit(0))
    near_dup = F.coalesce(F.col("_drop"), F.lit(0))
    return (
        base.join(gates, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .join(quality, "doc_id", "left")
        .join(drops, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            gate_pass.alias("gate_pass"),
            contaminated.alias("contaminated"),
            model_keep.alias("model_keep"),
            near_dup.alias("near_dup_drop"),
            F.when(
                (gate_pass == 1)
                & (contaminated == 0)
                & (model_keep == 1)
                & (near_dup == 0),
                1,
            )
            .otherwise(0)
            .alias("keep"),
        )
    )


@register(
    "funnel_report",
    f"""
    WITH m AS ({_FUNNEL_SQL})
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(gate_pass) AS BIGINT) AS n_gate_pass,
           CAST(sum(1 - contaminated) AS BIGINT) AS n_uncontaminated,
           CAST(sum(model_keep) AS BIGINT) AS n_model_keep,
           CAST(sum(1 - near_dup_drop) AS BIGINT) AS n_unique,
           CAST(sum(keep) AS BIGINT) AS n_keep
    FROM m
    """,
)
def q_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row attrition summary over the filter funnel — the
    run-report counter row (the reference's GlobalCounters email
    discipline applied to corpus prep): how many training documents
    exist, pass the repetition gate, are uncontaminated, survive
    near-dup clustering, and remain after ALL screens. Casts to
    BIGINT on both sides (DuckDB sums ints into HUGEINT)."""
    f = q_filter_funnel(spark, sf_dir)
    return f.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("gate_pass").alias("n_gate_pass"),
        F.sum(1 - F.col("contaminated")).alias("n_uncontaminated"),
        F.sum("model_keep").alias("n_model_keep"),
        F.sum(1 - F.col("near_dup_drop")).alias("n_unique"),
        F.sum("keep").alias("n_keep"),
    )


# ---------------------------------------------------------------------
# Content-defined chunking (rolling-hash boundaries)
# ---------------------------------------------------------------------

CDC_W = 16  # rolling window (chars)
CDC_DIV = 64  # boundary divisor -> expected chunk ~64 chars
_CDC_P = 1_000_000_007
_CDC_POW_W = pow(31, CDC_W, _CDC_P)


@register(
    "cdc_chunks",
    f"""
    WITH pref AS (
        SELECT doc_id, text, length(text) AS n,
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, length(text) + 1),
                       i -> list_reduce(
                           list_prepend(CAST(0 AS BIGINT),
                               list_transform(range(1, i + 1),
                                   j -> CAST(ascii(substr(text, CAST(j AS INT), 1))
                                             AS BIGINT))),
                           (acc, c) -> (acc * 31 + c) % {_CDC_P})))
                 AS H
        FROM documents),
    cuts AS (
        SELECT doc_id, text, n,
               list_filter(range({CDC_W}, n + 1),
                   i -> ((H[CAST(i AS INT) + 1]
                          - H[CAST(i AS INT) - {CDC_W} + 1] * {_CDC_POW_W})
                         % {_CDC_P} + {_CDC_P}) % {_CDC_P} % {CDC_DIV} = 0)
                 AS cl
        FROM pref),
    spans AS (
        SELECT doc_id, text,
               list_prepend(CAST(0 AS BIGINT), cl) AS starts,
               list_append(cl, CAST(n AS BIGINT)) AS ends
        FROM cuts),
    ex AS (
        SELECT doc_id, text, starts, ends,
               unnest(range(1, len(starts) + 1)) AS j
        FROM spans)
    SELECT doc_id,
           CAST(j - 1 AS INT) AS chunk_idx,
           CAST(starts[CAST(j AS INT)] AS INT) AS start,
           CAST(ends[CAST(j AS INT)] - starts[CAST(j AS INT)] AS INT)
             AS length,
           md5(substr(text, CAST(starts[CAST(j AS INT)] AS INT) + 1,
                      CAST(ends[CAST(j AS INT)] - starts[CAST(j AS INT)]
                           AS INT))) AS chunk_fp
    FROM ex
    WHERE ends[CAST(j AS INT)] > starts[CAST(j AS INT)]
    """,
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: cut each document where the rolling
    Karp-Rabin hash of the trailing CDC_W characters divides CDC_DIV
    (functions/hashes.cdc_spans_batch — expected chunk ~CDC_DIV
    chars). Boundaries depend only on local content, so an insertion
    early in a document re-synchronizes all later chunk fingerprints
    — the property behind CDC dedup/storage systems (LBFS/restic
    lineage) that fixed-width chunking lacks; chunk_fp is the dedup
    key downstream.

    Scale: the kernel is linear per document and emits only (start,
    length) spans; substring + md5 run JVM-side after posexplode. The
    oracle recomputes every window hash from prefix hashes by closed
    form (O(n^2), engine-exact integer mod arithmetic)."""
    from clinvar_pipeline_spark.functions.hashes import cdc_spans_batch

    d = _spread(_t(spark, sf_dir, "documents"))
    spans = d.select(
        "doc_id",
        "text",
        F.posexplode(cdc_spans_batch(CDC_W, CDC_DIV)(F.col("text"))).alias(
            "chunk_idx", "span"
        ),
    )
    return spans.select(
        "doc_id",
        "chunk_idx",
        F.col("span.start").alias("start"),
        F.col("span.length").alias("length"),
        F.md5(
            F.expr("substr(text, span.start + 1, span.length)")
        ).alias("chunk_fp"),
    )


# ---------------------------------------------------------------------
# LM quality score (CCNet-style unigram logprob)
# ---------------------------------------------------------------------


def _corpus_token_total(spark: SparkSession, sf_dir: str) -> int:
    """Total token occurrences of the corpus under the shared
    tokenizer — a corpus-derived SCALAR, memoized on the documents
    read exactly like the IVF/SemDeDup quantizer centroids
    (caching.memo contract): re-deriving it per plan build re-ran a
    full count job on every invocation of lm_quality / both
    perplexity banders (~1.3-1.8 s serial wall each at sf0.1). The
    value is deterministic from the parquet inputs and folds into
    the downstream plan as a literal, so every action still computes
    from the files; nothing row-shaped is retained.

    The count runs on its OWN twin frame, not the caller's persisted
    token frame: counting the caller's frame materialized its cache
    during plan BUILD, making the captured physical plan depend on
    whether an earlier query had already warmed the memo (an
    order-dependent plan-gate flake, caught by tools/plan_baseline.py
    when queries ran in non-registry order)."""
    d = _t(spark, sf_dir, "documents")

    def _count() -> int:
        return _spread(d).select(
            F.explode(normalized_tokens(F.col("text"))).alias("t")
        ).count()

    return memo(("corpus_token_total",), d, _count)


@register(
    "lm_quality",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest(toks) AS t
        FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
              FROM documents)
        WHERE len(toks) > 0),
    freq AS (
        SELECT t, count(*) AS cnt,
               CAST(sum(count(*)) OVER () AS BIGINT) AS total
        FROM tok GROUP BY t)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS mean_logprob
    FROM tok JOIN freq USING (t)
    GROUP BY doc_id
    """,
)
def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: per-document mean unigram
    log-probability under the corpus's own unigram model (the
    stand-in for a KenLM perplexity filter — the engine-side plan is
    identical, only the per-token score table changes). Documents full
    of corpus-typical tokens score high (closer to 0); rare-token
    documents land in the tail, which is exactly the head/middle/tail
    partitioning CCNet buckets a corpus by.

    Scale: the unigram table is one groupBy over the exploded tokens
    (the explode is shared with the per-doc aggregate via one persist).
    The corpus token total is a bounded single-scalar collect off the
    persisted explode (the guarded-delete W4 discipline — one long to
    the driver, folded into the plan as a literal). The alternatives
    both smell at scale: a single-partition window funnels a 1e8-row
    production vocabulary through one task, and a constant-key join
    constant-folds into a nested-loop cross join. The score join keys
    on the token string — vocab-sized, so AQE broadcasts it when it
    fits and hash-joins otherwise; no hint, per the engine's
    broadcast policy.
    Engine-note: ln() may differ from DuckDB's libm in the last ulp;
    the 4-decimal round is ~12 orders of magnitude coarser, so hashes
    are stable (same discipline as every double-emitting query)."""
    d = _spread(_t(spark, sf_dir, "documents"))
    # no explicit size pre-filter: explode drops empty arrays itself
    # (Catalyst's InferFiltersFromGenerate re-infers an equivalent
    # pushed filter regardless, so the explicit one was pure
    # duplication)
    tok = d.select(
        "doc_id", normalized_tokens(F.col("text")).alias("toks")
    ).select("doc_id", F.explode("toks").alias("t"))
    # freq build + score join both read it
    tok = _persist(tok)
    # corpus token total: a corpus-derived scalar (caching.memo
    # contract, same class as row counts / quantizer centroids) — one
    # count job per session per corpus instead of one per invocation
    # (r11: the count was ~1.3-1.8 s of pure serial wall on every
    # warm pass of lm_quality and both perplexity banders). The value
    # folds into the plan as a literal, so plans are unchanged.
    total = _corpus_token_total(spark, sf_dir)
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    lp = F.log(F.col("cnt").cast("double") / F.lit(float(total)))
    return (
        tok.join(freq, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(lp), 4).alias("mean_logprob"),
        )
    )


# ---------------------------------------------------------------------
# Video manifest (multimodal ladder, video rung)
# ---------------------------------------------------------------------

@register(
    "video_meta",
    """
    SELECT doc_id AS id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha256,
           CASE WHEN octet_length(encode(text)) = 0 THEN 'fake/0'
                ELSE 'fake/' || ascii(substr(text, 1, 1)) END AS container,
           octet_length(encode(text)) % 256 AS width,
           (octet_length(encode(text)) // 256) % 256 AS height,
           CAST(0.0 AS DOUBLE) AS fps, 0 AS n_frames,
           CAST(0.0 AS DOUBLE) AS duration_s, 0 AS n_tracks,
           '' AS codecs, 'fake' AS decode_tier
    FROM documents
    """,
)
def q_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-asset video manifest via the multimodal video ladder
    (operators/multimodal.extract_video_meta): real frame-accurate
    metadata for Y4M streams (functions/y4m.py), box-tree metadata for
    ISO-BMFF/MP4 (functions/mp4.py), deterministic fake for anything
    else. The driver's text-derived payloads are all fake-tier — which
    is exactly what lets DuckDB oracle the byte-derived columns; the
    real tiers are pinned by tests/test_video_codec.py (the
    multimodal_frames discipline).

    Scale: mapInPandas over the attached binary column, 1:1 rows,
    columnar end-to-end, no shuffle."""
    from clinvar_pipeline_spark.operators.multimodal import (
        attach_binary,
        extract_video_meta,
    )

    d = _spread(_t(spark, sf_dir, "documents"))
    out = extract_video_meta(attach_binary(d, "doc_id", "text"))
    # kernel ints widen to long at the result boundary: exact
    # width-match with the oracle's BIGINT octet_length columns
    # (tools/type_audit.py discipline)
    return out.withColumns(
        {
            c: F.col(c).cast("long")
            for c in ("n_bytes", "width", "height")
        }
    )


@register(
    "audio_meta",
    """
    SELECT doc_id AS id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha256,
           8000 AS sample_rate,
           1 + octet_length(encode(text)) % 2 AS channels,
           16 AS bits,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
           octet_length(encode(text)) / 8000.0 AS duration_s,
           'fake' AS decode_tier
    FROM documents
    """,
)
def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-asset audio manifest via the audio ladder
    (operators/multimodal.extract_audio_meta): real RIFF/PCM parse for
    WAV payloads (functions/wav.py), deterministic fake for compressed
    or unrecognizable audio. The driver's text-derived payloads are
    all fake-tier — the byte-derived fake columns are what DuckDB can
    oracle; the real tier is pinned by tests/test_audio_codec.py.

    Scale: mapInPandas, 1:1 rows, columnar, no shuffle."""
    from clinvar_pipeline_spark.operators.multimodal import (
        attach_binary,
        extract_audio_meta,
    )

    d = _spread(_t(spark, sf_dir, "documents"))
    out = extract_audio_meta(attach_binary(d, "doc_id", "text"))
    # kernel ints widen to long (type_audit width discipline)
    return out.withColumns(
        {c: F.col(c).cast("long") for c in ("n_bytes", "channels")}
    )


# ---------------------------------------------------------------------
# BPE merge training (tokenizer induction)
# ---------------------------------------------------------------------

from clinvar_pipeline_spark.functions.bpe_oracle import bpe_merges_oracle


@register(
    "bpe_merges",
    bpe_merges_oracle(8, _TOKENIZE_SQL.format(col="text")),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges learned from the corpus (operators/bpe.py):
    per round one vocabulary-sized pair-count shuffle, one bounded
    1-row argmax collect, one Arrow merge kernel. ORACLE-BACKED since
    round 10 — the registry's final rows-only graduation: the
    doubled-separator encoding makes SQL replace() reproduce the
    sequential merge kernel exactly, so training unrolls as a bounded
    CTE chain (functions/bpe_oracle.py). Exact training behavior is
    additionally pinned by tests/test_bpe.py against hand-computed
    merges and a pure-Python reference implementation."""
    from clinvar_pipeline_spark.operators.bpe import (
        train_bpe_merges,
        word_frequencies,
    )

    d = _spread(_t(spark, sf_dir, "documents"))
    merges = train_bpe_merges(word_frequencies(d, "text"), num_merges=8)
    return spark.createDataFrame(
        [(i, left, right, cnt) for i, (left, right, cnt) in enumerate(merges)],
        "rank int, left string, right string, pair_freq long",
    ).orderBy("rank")


# ---------------------------------------------------------------------
# Semantic deduplication (SemDeDup)
# ---------------------------------------------------------------------

from clinvar_pipeline_spark.functions.kmeans_oracle import (
    semantic_dedup_oracle as _semdedup_oracle,
)


@register("semantic_dedup", _semdedup_oracle(tau=0.4))
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: k-means cells + intra-cell
    cosine ≥ τ → drop-list with surviving representative.

    ORACLE-BACKED since r9 (previously rows-only): the operator runs
    the deterministic Q6 integer k-means
    (operators/similarity._train_centroids_q6 — strided init, integer
    Lloyd steps, exact lattice dots) and scores pairs on the same
    lattice, so the DuckDB twin (functions/kmeans_oracle.py) unrolls
    the identical iterations as CTEs and matches ids, keepers, AND
    sims bit-for-bit. The exact contract — identical-vector groups
    collapse to their min-id member, dissimilar vectors never drop —
    stays pinned by tests/test_llm_queries.py and
    tests/test_kmeans_q6.py.

    τ here is 0.4, not the operator's production default 0.95: the
    synthetic embeddings are near-orthogonal (max pairwise cosine
    ~0.51 at sf0.01), so the production threshold would make this
    registry instance vacuously empty; 0.4 exercises the full
    cluster→pair→pick path on real data."""
    e = _spread(_t(spark, sf_dir, "embeddings"), 8)
    return semantic_dedup(
        e, id_col="vec_id", vec_col="embedding", tau=0.4
    ).orderBy("vec_id")


# ---------------------------------------------------------------------
# Round 6 additions: the training-run boundary — model-based quality
# filtering, deterministic corpus order, split assignment + leakage
# audit, and per-document keyword profiles.
# ---------------------------------------------------------------------

@register(
    "quality_classifier",
    f"""
    WITH qtok AS (
        SELECT doc_id, unnest(toks) AS t
        FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
              FROM documents)
        WHERE len(toks) > 0),
    {_QC_MODEL_CTES}
    SELECT doc_id, count(*) AS n_tokens,
           coalesce(round(avg(coalesce(w, wu)), 4) + 0, 0.0) AS score,
           CASE WHEN round(avg(coalesce(w, wu)), 4) > 0 THEN 1 ELSE 0 END
             AS keep_flag
    FROM qtok LEFT JOIN qw USING (t) CROSS JOIN qunseen
    GROUP BY doc_id
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter, the fastText/DCLM pattern: a linear
    bag-of-words classifier is TRAINED IN-ENGINE from a positive seed
    slice vs a random negative slice (add-one-smoothed Naive-Bayes
    log-odds per token — the closed form of the linear model fastText
    converges to on bag-of-words features), then every document is
    scored by its mean token log-odds; keep_flag thresholds at 0.
    This is the stage modern pipelines (CCNet, DCLM, FineWeb-Edu) run
    after rule gates: rules catch boilerplate, the classifier ranks
    "seed-like" prose.

    Scale: training is one groupBy over the slice's exploded tokens —
    the weight table is VOCAB-sized, not corpus-sized, so its totals
    window (partitionBy(lit(1)) over the vocab frame) is a single
    trivial task, and the table broadcasts for scoring. Scoring is a
    broadcast left-join + per-doc aggregate: one shuffle on doc_id.
    The unseen-token default weight is a bounded single-scalar collect
    folded in as a literal (the lm_quality / guarded-delete W4
    discipline — one double to the driver beats a nested-loop scalar
    join in the scoring plan). Exploded tokens are persisted once and
    read by both the trainer and the scorer."""
    d = _spread(_t(spark, sf_dir, "documents"))
    tok = _persist(doc_tokens(d))  # trainer + scorer both read it
    w, wu = quality_weight_frame(tok)
    avg_w = F.avg(F.coalesce(F.col("w"), F.lit(wu)))
    return (
        tok.join(F.broadcast(w), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # + 0 folds IEEE -0.0 to +0.0: a doc whose mean log-odds
            # rounds to zero can land on either signed zero depending
            # on the engine's summation order; the hash distinguishes
            # them (caught at sf0.1, doc 1216)
            (F.round(avg_w, 4) + F.lit(0.0)).alias("score"),
            F.when(F.round(avg_w, 4) > 0, 1).otherwise(0).alias("keep_flag"),
        )
    )


def doc_tokens(d: DataFrame) -> DataFrame:
    """(doc_id, t) exploded normalized tokens, zero-token docs
    dropped (by the explode itself; Catalyst's
    InferFiltersFromGenerate re-infers the pushed size filter, so an
    explicit one was pure duplication) — the shared trainer/scorer
    input."""
    return d.select(
        "doc_id", normalized_tokens(F.col("text")).alias("toks")
    ).select("doc_id", F.explode("toks").alias("t"))


def quality_weight_frame(tok: DataFrame) -> tuple[DataFrame, float]:
    """Train the linear BoW quality model from the id-sliced training
    classes inside `tok`: returns (vocab weight frame [t, w], smoothed
    unseen-token default). Shared by the batch query above and the
    streaming serve path (streaming/corpus.quality_stream) — corpus
    state trained once, served everywhere (the quantizer discipline).

    Scale: one groupBy over the slice's exploded tokens to a
    VOCAB-sized frame; its totals window (partitionBy(lit(1))) is a
    single trivial task at any corpus scale (vocab ~1e6 rows at
    100 TB). The unseen default is a bounded 1-row collect (the
    lm_quality / guarded-delete W4 discipline — one double to the
    driver beats a nested-loop scalar join in the scoring plan)."""
    pos = F.when(F.col("doc_id") % QC_MOD == QC_POS_RES, 1).otherwise(0)
    tr = tok.filter(
        (F.col("doc_id") % QC_MOD).isin(QC_POS_RES, QC_NEG_RES)
    ).select("t", pos.alias("pos"))
    voc = tr.groupBy("t").agg(
        F.sum("pos").cast("double").alias("pc"),
        F.sum(1 - F.col("pos")).cast("double").alias("nc"),
    )
    tot = Window.partitionBy(F.lit(1))
    # persisted: the wu scalar collect below and the returned weight
    # frame both read this aggregation — without the persist the
    # corpus-sized explode+groupBy runs twice per training (review
    # finding; the frame itself is vocab-sized, so the cache is tiny)
    voc = _persist(
        voc.select(
            "t", "pc", "nc",
            F.sum("pc").over(tot).alias("pt"),
            F.sum("nc").over(tot).alias("nt"),
            F.count(F.lit(1)).over(tot).cast("double").alias("v"),
        )
    )
    w = voc.select(
        "t",
        (
            F.log((F.col("pc") + 1) / (F.col("pt") + F.col("v")))
            - F.log((F.col("nc") + 1) / (F.col("nt") + F.col("v")))
        ).alias("w"),
    )
    # the scalar pull doubles as the cache barrier: an AGGREGATE reads
    # every partition of the persisted voc, so the whole cache (and the
    # tok cache under it) is materialized HERE, before the scoring
    # action's broadcast future reads it. The previous limit(1) only
    # materialized the partitions executeTake touched, so the w
    # broadcast re-ran the full tokenize lineage at save time to
    # produce the ~31 untouched (empty) partitions — measured r11 as
    # an 8.3 s executor-time stage per invocation (stage_profile).
    # Every voc row carries identical pt/nt/v (window over lit(1)),
    # so max() returns exactly the value limit(1) read.
    row = voc.agg(
        F.max("pt").alias("pt"),
        F.max("nt").alias("nt"),
        F.max("v").alias("v"),
    ).collect()
    wu = (
        math.log((row[0]["nt"] + row[0]["v"]) / (row[0]["pt"] + row[0]["v"]))
        if row and row[0]["pt"] is not None
        else 0.0
    )
    return w, wu


# Deterministic corpus-shuffle hash: multiplicative bucket mod a prime
# in the overflow-free reduced form ((id % M) * (K % M)) % M — exact
# in both engines for any int64 id (the stratified_sample discipline,
# with a ~1e6 modulus so bucket collisions are rare and the "shuffle"
# has fine grain). Honest limitation, same as there: the bucket is a
# function of id % M, so ids congruent mod 999983 share a position
# class; production uses pmod(xxhash64(id), M) — identical plan shape.
SHUF_M = 999_983  # largest prime below 1e6; (M-1)^2 < 2^63 headroom
SHUF_K = 2_654_435_761  # Knuth multiplicative constant


@register(
    "corpus_shuffle",
    f"""
    WITH b AS (
        SELECT doc_id,
               ((doc_id % {SHUF_M}) * {SHUF_K % SHUF_M}) % {SHUF_M} AS bucket
        FROM documents)
    SELECT doc_id, bucket,
           ROW_NUMBER() OVER (ORDER BY bucket, doc_id) - 1 AS global_pos
    FROM b
    """,
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle — the training-order step.
    A pretraining run must visit documents in a reproducible
    pseudo-random order (restarts, data-order ablations, and multi-
    epoch schedules all need position to be a pure function of the
    corpus, not of the cluster); rand() cannot give that. Each doc
    gets a multiplicative hash bucket, and its global position is its
    rank in (bucket, doc_id) order.

    Scale: the global rank is computed WITHOUT a single-partition
    window — range-partition by (bucket, doc_id), per-partition
    row_number (parallel), exclusive prefix-sum of per-partition
    counts over ~n_partitions rows, broadcast back (the plans/load.py
    id-allocation / sequence_packing discipline; equals the oracle's
    ROW_NUMBER at any partition count). One range exchange + one
    broadcast join, rows are 3 longs — this is exactly how you lay
    out a 100 TB training order."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(SHUF_M)) * F.lit(SHUF_K % SHUF_M),
        F.lit(SHUF_M),
    )
    part = (
        d.select("doc_id", bucket.alias("bucket"))
        .repartitionByRange("bucket", "doc_id")
        .withColumn("_pid", F.spark_partition_id())
    )
    # one materialization: a retry could resample range bounds and
    # shift partition ids between the offsets and rank reads
    local = _persist(
        part.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_pid").orderBy("bucket", "doc_id")
            ),
        )
    )
    offsets = (
        local.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("_cnt")
    )
    return local.join(F.broadcast(offsets), "_pid").select(
        "doc_id",
        "bucket",
        (F.col("_offset") + F.col("_rn") - 1).alias("global_pos"),
    )


# Train/val/test boundaries on the per-mille sampling bucket
# (stratified_sample's engine-portable hash): 90/5/5.
SPLIT_TRAIN_LT = 900
SPLIT_VAL_LT = 950

_SPLIT_CASE_SQL = f"""
        CASE WHEN ((doc_id % 1000) * {_SAMPLE_K % 1000}) % 1000
                  < {SPLIT_TRAIN_LT} THEN 'train'
             WHEN ((doc_id % 1000) * {_SAMPLE_K % 1000}) % 1000
                  < {SPLIT_VAL_LT} THEN 'val'
             ELSE 'test' END"""


def _split_col() -> F.Column:
    """Spark twin of _SPLIT_CASE_SQL: deterministic per-mille bucket →
    train/val/test. A pure function of doc_id, so the assignment is
    reproducible across runs, engines, and partitionings."""
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(1000)) * F.lit(_SAMPLE_K % 1000),
        F.lit(1000),
    )
    return (
        F.when(bucket < SPLIT_TRAIN_LT, "train")
        .when(bucket < SPLIT_VAL_LT, "val")
        .otherwise("test")
    )


@register(
    "split_report",
    f"""
    WITH s AS (
        SELECT doc_id, lang, {_SPLIT_CASE_SQL} AS split
        FROM documents),
    c AS (SELECT split, lang, count(*) AS n_docs FROM s GROUP BY split, lang)
    SELECT split, lang, n_docs,
           round(CAST(n_docs AS DOUBLE)
                 / sum(n_docs) OVER (PARTITION BY lang), 4) AS frac_of_lang
    FROM c
    """,
)
def q_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5 on the
    per-mille hash bucket) with the shape audit a dataset release
    ships: per (split, lang) document counts and each split's
    fraction WITHIN its language — the check that hashing didn't
    starve a small language's val/test slice.

    Scale: assignment is map-only (pure function of doc_id); one
    groupBy to |splits|x|langs| rows; the within-lang fraction is a
    window over that tiny frame. Nothing corpus-sized leaves the
    mappers."""
    d = _t(spark, sf_dir, "documents")
    c = (
        d.select("doc_id", "lang", _split_col().alias("split"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    lang_total = F.sum("n_docs").over(Window.partitionBy("lang"))
    return c.select(
        "split", "lang", "n_docs",
        F.round(F.col("n_docs").cast("double") / lang_total, 4).alias(
            "frac_of_lang"
        ),
    )


@register(
    "split_leakage",
    f"""
    WITH s AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice({_TOKENIZE_SQL.format(col='text')}, 1, 3),
                   ' ')) AS content_key,
               {_SPLIT_CASE_SQL} AS split
        FROM documents)
    SELECT content_key,
           count(*) AS n_docs,
           CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
           array_to_string(list_sort(list(DISTINCT split)), ',') AS splits,
           min(doc_id) AS first_doc
    FROM s GROUP BY content_key
    HAVING count(*) > 1 AND count(DISTINCT split) > 1
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: content-key groups (exact_dedup's
    normalized 3-token-prefix key — the engine's canonical content
    fingerprint) whose members land in MORE THAN ONE split. Duplicate
    or near-identical content straddling train/test silently inflates
    eval scores; this is the report a release gate blocks on (the
    reason GPT-3's book dedup and every serious benchmark audit
    exist). Emits the key, group size, which splits it touches, and
    the first member.

    Scale: one hash-groupBy on the content key (the exact_dedup
    shuffle) carrying (key, split, doc_id) — no joins, no text
    movement; the leakage report is exception-sized."""
    d = _t(spark, sf_dir, "documents")
    toks = normalized_tokens(F.col("text"))
    key = F.md5(F.concat_ws(" ", F.slice(toks, 1, 3)))
    return (
        d.select(
            "doc_id",
            key.alias("content_key"),
            _split_col().alias("split"),
        )
        .groupBy("content_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.size(F.collect_set("split")).cast("long").alias("n_splits"),
            F.concat_ws(",", F.sort_array(F.collect_set("split"))).alias(
                "splits"
            ),
            F.min("doc_id").alias("first_doc"),
        )
        .filter((F.col("n_docs") > 1) & (F.col("n_splits") > 1))
    )


TFIDF_TOP_K = 3  # keywords per document


@register(
    "tfidf_top_terms",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest(toks) AS t
        FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
              FROM documents)
        WHERE len(toks) > 0),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
    df AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok GROUP BY t),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tok),
    scored AS (
        SELECT doc_id, t, tf, df,
               tf * ln((n + 1) / (df + 1)) AS score
        FROM tf JOIN df USING (t) CROSS JOIN n)
    SELECT doc_id, t AS term, tf, df, round(score, 4) AS score, rank
    FROM (SELECT *, CAST(ROW_NUMBER() OVER (
                    PARTITION BY doc_id ORDER BY score DESC, t) AS BIGINT)
                      AS rank
          FROM scored)
    WHERE rank <= {TFIDF_TOP_K}
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-{K} terms by smoothed
    TF-IDF (tf * ln((N+1)/(df+1))) — the per-doc topical profile a
    corpus browser / topic-mixture analysis reads, and the classic
    two-aggregate + broadcast-join Spark pattern.

    Rank ties break on the term string; cross-ENGINE rank flips are
    impossible because a score tie requires equal (tf, df), which
    yields bitwise-equal doubles within each engine.

    Scale: tf is a groupBy on (doc_id, term); df is VOCAB-sized and
    joins on the term (AQE broadcasts it when it fits — no hint, per
    the engine's broadcast policy); N is a bounded single-scalar
    collect off the persisted explode (the lm_quality discipline).
    The top-k window partitions BY DOCUMENT — parallel at any corpus
    size, never a global sort."""
    docs = _t(spark, sf_dir, "documents")
    # tf and df both read tok
    tok = _persist(doc_tokens(_spread(docs)))
    # N is a corpus-derived scalar — memoized on the documents read,
    # counted on its own twin frame (r11, the _corpus_token_total /
    # pagerank-node-count discipline): counting the persisted tok
    # frame ran the full tokenize pipeline as a serial job per
    # invocation AND materialized the cache during plan build (memo-
    # warmth-dependent captured plans, the plan-gate order lesson)
    def _n_docs() -> int:
        return doc_tokens(_spread(docs)).select("doc_id").distinct().count()

    n_docs = float(memo(("tfidf_n_docs",), docs, _n_docs))
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("t").agg(F.countDistinct("doc_id").alias("df"))
    score = F.col("tf") * F.log(
        (F.lit(n_docs) + 1) / (F.col("df").cast("double") + 1)
    )
    ranked = (
        tf.join(df, "t")
        .withColumn("score", score)
        .withColumn(
            "rank",
            F.row_number()
            .over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("score").desc(), F.col("t")
                )
            )
            .cast("long"),
        )
        .filter(F.col("rank") <= TFIDF_TOP_K)
    )
    return ranked.select(
        "doc_id",
        F.col("t").alias("term"),
        "tf",
        "df",
        F.round("score", 4).alias("score"),
        "rank",
    )


# ---------------------------------------------------------------------
# Perplexity bands (CCNet head/middle/tail) + eval-side leak report
# ---------------------------------------------------------------------

# z-score band edges on the per-language LM-quality distribution.
# CCNet cuts head/middle/tail at per-language perplexity PERCENTILES;
# perplexity_bands_pct below is the percentile-TRUE variant (exact
# per-language order statistics via a two-pass fixed-width histogram —
# engine-portable, no per-language sort); this z-score variant stays
# as the documented cheap path — ONE aggregate pass, broadcast back,
# map-only labeling. Same selection semantics on roughly-normal
# distributions (typical text lands in head, rare-token text in
# tail), but cut POINTS diverge on skewed ones — the divergence is
# pinned by tests/test_llm_queries_r7.py on a skewed fixture.
BAND_HEAD_Z = 0.5
BAND_TAIL_Z = -0.5

# LM-quality scoring CTEs shared by perplexity_bands /
# perplexity_bands_pct (the _SPANS_CTES idiom — one definition, two
# oracle consumers; the engine side equally shares _lm_scored)
_LM_SCORED_CTES = f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(toks) AS t
        FROM (SELECT doc_id, lang, {_TOKENIZE_SQL.format(col='text')} AS toks
              FROM documents)
        WHERE len(toks) > 0),
    freq AS (
        SELECT t, count(*) AS cnt,
               CAST(sum(count(*)) OVER () AS BIGINT) AS total
        FROM tok GROUP BY t),
    scored AS (
        SELECT doc_id, lang,
               round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS score
        FROM tok JOIN freq USING (t)
        GROUP BY doc_id, lang)
"""


def _lm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, score): every document's LM-quality score —
    lm_quality's mean unigram logprob, rounded 4 — persisted, the
    shared front end of both banding variants. One persisted explode,
    a vocab-sized frequency join, one bounded scalar collect (the
    lm_quality discipline)."""
    d = _spread(_t(spark, sf_dir, "documents"))
    # no explicit size pre-filter: explode drops empty arrays itself
    # (InferFiltersFromGenerate re-infers the pushed filter anyway)
    tok = d.select(
        "doc_id", "lang", normalized_tokens(F.col("text")).alias("toks")
    ).select("doc_id", "lang", F.explode("toks").alias("t"))
    # persist + memoized corpus total: see q_lm_quality (identical
    # rationale; the token stream differs only by the lang column, so
    # the TOTAL is the same corpus scalar and shares the memo key)
    tok = _persist(tok)
    total = _corpus_token_total(spark, sf_dir)
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    lp = F.log(F.col("cnt").cast("double") / F.lit(float(total)))
    scored = (
        tok.join(freq, "t")
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg(lp), 4).alias("score"))
    )
    # both banders hang 2-3 consumer branches off scored
    # (stats/histogram build + the final label join); the doc-sized
    # cache spares each a re-run of the corpus-sized join+agg lineage
    return _persist(scored)


@register(
    "perplexity_bands",
    f"""
    {_LM_SCORED_CTES},
    stats AS (
        SELECT lang, avg(score) AS mu, stddev_samp(score) AS sd
        FROM scored GROUP BY lang),
    zz AS (
        SELECT s.doc_id, s.lang, s.score,
               CASE WHEN st.sd IS NULL OR st.sd = 0 THEN 0.0
                    ELSE (s.score - st.mu) / st.sd END AS zraw
        FROM scored s JOIN stats st USING (lang))
    SELECT doc_id, lang, score,
           round(zraw, 4) + 0 AS z,
           CASE WHEN zraw >= {BAND_HEAD_Z} THEN 'head'
                WHEN zraw <= {BAND_TAIL_Z} THEN 'tail'
                ELSE 'middle' END AS band
    FROM zz
    """,
)
def q_perplexity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality banding: every document's LM-quality score
    (lm_quality's mean unigram logprob) is z-scored against its
    LANGUAGE's distribution and cut into head / middle / tail — the
    partition CCNet feeds to downstream selection (keep head+middle,
    resample or drop tail). Languages are banded independently so a
    low-resource language's typical text is not crushed by a
    high-resource language's distribution.

    Scale: the scoring plan is lm_quality's (one persisted explode,
    vocab-sized frequency join — shared via _lm_scored); the band
    thresholds are per-domain mean/stddev — ONE aggregate to domain
    cardinality, broadcast back, labeling map-only. No per-domain
    sort, no percentile sketch (the cheap path; see
    perplexity_bands_pct for the percentile-true cuts)."""
    scored = _lm_scored(spark, sf_dir)
    stats = scored.groupBy("lang").agg(
        F.avg("score").alias("mu"), F.stddev_samp("score").alias("sd")
    )
    # degenerate-domain guard: a language whose docs all share one
    # score has sd = 0 (or NULL for a single doc) — everyone is
    # "typical", z pinned to 0.0 in BOTH engines (unguarded, Spark's
    # 0/0 is NULL while DuckDB >= 1.1 gives NaN that sorts above
    # every threshold — a review-caught engine divergence)
    z = F.when(
        F.col("sd").isNull() | (F.col("sd") == 0), F.lit(0.0)
    ).otherwise((F.col("score") - F.col("mu")) / F.col("sd"))
    return (
        scored.join(F.broadcast(stats), "lang")
        .select(
            "doc_id",
            "lang",
            "score",
            # + 0 folds signed zero (the quality_classifier lesson —
            # z crosses 0 by construction)
            (F.round(z, 4) + F.lit(0.0)).alias("z"),
            F.when(z >= BAND_HEAD_Z, "head")
            .when(z <= BAND_TAIL_Z, "tail")
            .otherwise("middle")
            .alias("band"),
        )
    )


# fixed-width histogram resolution for the percentile-true bands: the
# refine pass sorts only the cut bin (~n/PCT_NBINS rows per language),
# so at a larger corpus raise PCT_NBINS to keep that slice bounded
PCT_NBINS = 1024


@register(
    "perplexity_bands_pct",
    f"""
    {_LM_SCORED_CTES},
    stats AS (SELECT lang, count(*) AS n FROM scored GROUP BY lang),
    ranked AS (
        SELECT lang, score,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY score DESC) AS rk
        FROM scored),
    cuts AS (
        SELECT r.lang,
               max(CASE WHEN r.rk = CAST(ceil(st.n / 3.0) AS BIGINT)
                        THEN r.score END) AS cut_head,
               max(CASE WHEN r.rk = CAST(ceil(2 * st.n / 3.0) AS BIGINT)
                        THEN r.score END) AS cut_tail
        FROM ranked r JOIN stats st USING (lang)
        GROUP BY r.lang)
    SELECT s.doc_id, s.lang, s.score,
           CASE WHEN s.score >= c.cut_head THEN 'head'
                WHEN s.score < c.cut_tail THEN 'tail'
                ELSE 'middle' END AS band
    FROM scored s JOIN cuts c USING (lang)
    """,
)
def q_perplexity_bands_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet banding at TRUE per-language percentiles (the paper's
    semantics — perplexity_bands' z-score variant is the documented
    cheap path): the head/tail cuts are the exact k-th order
    statistics of each language's score distribution in descending
    order, k_head = ceil(n/3) and k_tail = ceil(2n/3) — equal thirds
    up to ties. Band assignment is BY VALUE against the cuts (score
    >= cut_head -> head, score < cut_tail -> tail), so ties at a cut
    all land on the same side in every engine.

    The oracle computes the same order statistics via
    ROW_NUMBER-over-language; the engine must NOT (a per-language
    global sort puts a whole language's corpus in one task). Instead,
    an engine-portable two-pass fixed-width histogram finds each cut
    exactly:

    1. per-language (n, min, max) — one aggregate, broadcast back;
    2. map-only binning into PCT_NBINS descending fixed-width bins,
       then per-(lang, bin) counts — an aggregate to language x 1024
       cardinality, where a running sum locates the bin containing
       each target rank and the count of rows in earlier bins;
    3. refine: ONLY the cut bin's rows (~n/PCT_NBINS per language)
       sort within (language, cut) partitions; row_number picks the
       (k - preceding)-th — the exact k-th order statistic, since
       equal values always share a bin.

    Every heavy shuffle is the scoring plan's own; the histogram
    frame, cut-bin table, and cuts are language-cardinality and
    broadcast. The refine window's partitions are bin-sized, not
    language-sized — raise PCT_NBINS to scale the slice down."""
    scored = _lm_scored(spark, sf_dir)
    stats = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("score").alias("mn"),
        F.max("score").alias("mx"),
    )
    # descending bins: bin 0 holds the top scores, so the running sum
    # over ascending bin ids accumulates descending ranks
    span = F.col("mx") - F.col("mn")
    binned = scored.join(F.broadcast(stats), "lang").select(
        "lang",
        "score",
        F.when(span == 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("mx") - F.col("score")) / span * PCT_NBINS),
                F.lit(PCT_NBINS - 1),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    # histogram + refine both read the binned frame
    binned = _persist(binned)
    hist = binned.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "lang",
        "bin",
        F.sum("c").over(wcum).alias("cum"),
        (F.sum("c").over(wcum) - F.col("c")).alias("prev"),
    )
    ranks = stats.select(
        "lang",
        F.explode(
            F.array(
                F.struct(
                    F.lit("head").alias("cut"),
                    F.ceil(F.col("n") / 3.0).cast("long").alias("k"),
                ),
                F.struct(
                    F.lit("tail").alias("cut"),
                    F.ceil(2 * F.col("n") / 3.0).cast("long").alias("k"),
                ),
            )
        ).alias("r"),
    ).select("lang", F.col("r.cut").alias("cut"), F.col("r.k").alias("k"))
    cut_bins = cum.join(ranks, "lang").filter(
        (F.col("prev") < F.col("k")) & (F.col("cum") >= F.col("k"))
    ).select("lang", "bin", "cut", "k", "prev")
    wref = Window.partitionBy("lang", "cut").orderBy(F.desc("score"))
    cut_vals = (
        binned.join(F.broadcast(cut_bins), ["lang", "bin"])
        .withColumn("_rn", F.row_number().over(wref))
        .filter(F.col("_rn") == F.col("k") - F.col("prev"))
        .groupBy("lang")
        .pivot("cut", ["head", "tail"])
        .agg(F.first("score"))
        .select(
            "lang",
            F.col("head").alias("cut_head"),
            F.col("tail").alias("cut_tail"),
        )
    )
    return scored.join(F.broadcast(cut_vals), "lang").select(
        "doc_id",
        "lang",
        "score",
        F.when(F.col("score") >= F.col("cut_head"), "head")
        .when(F.col("score") < F.col("cut_tail"), "tail")
        .otherwise("middle")
        .alias("band"),
    )


@register(
    "eval_leak_report",
    f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh_list)) AS s
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(len(toks) - {DECONTAM_K - 1}, 0) + 1),
                       i -> array_to_string(
                           list_slice(toks, i, i + {DECONTAM_K - 1}), ' ')
                   ) AS sh_list
            FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
                  FROM documents))
    ),
    ev AS (SELECT doc_id AS eval_doc, s FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id AS train_doc, s FROM sh WHERE doc_id % 97 <> 0),
    cold AS (SELECT s FROM sh GROUP BY s
             HAVING count(*) <= {_SHINGLE_DF_CAP}),
    evc AS (SELECT ev.eval_doc, ev.s FROM ev JOIN cold USING (s)),
    hits AS (SELECT evc.eval_doc, tr.train_doc, evc.s
             FROM evc JOIN tr USING (s)),
    sizes AS (SELECT eval_doc,
                     count(*) AS n_shingles,
                     CAST(count(*) FILTER (WHERE cold.s IS NULL)
                          AS BIGINT) AS n_capped
              FROM ev LEFT JOIN cold USING (s)
              GROUP BY eval_doc)
    SELECT z.eval_doc,
           z.n_shingles,
           z.n_capped,
           CAST(coalesce(count(DISTINCT h.s), 0) AS BIGINT)
             AS n_leaked_shingles,
           CAST(coalesce(count(DISTINCT h.train_doc), 0) AS BIGINT)
             AS n_train_docs,
           round(CAST(count(DISTINCT h.s) AS DOUBLE) / z.n_shingles, 4)
             AS leak_ratio
    FROM sizes z LEFT JOIN hits h USING (eval_doc)
    GROUP BY z.eval_doc, z.n_shingles, z.n_capped
    """,
)
def q_eval_leak_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EVAL-side contamination view (decontaminate's flip side):
    per benchmark document, how much of it leaked into the training
    corpus — distinct leaked k-grams, distinct carrying training
    documents, and the leaked fraction. decontaminate answers "which
    training docs must I drop"; this answers "which benchmark rows
    are compromised no matter what I drop" — the report an eval
    integrity review reads before trusting a score.

    Scale: the eval side is benchmark-sized and broadcasts; the join
    emits one row per (eval shingle x carrying train doc) — and the
    SHINGLE_DF_CAP guard is APPLIED (r6 judge finding), not merely
    available: shingles with corpus df > SHINGLE_DF_CAP
    ('stop-shingles' — boilerplate k-grams whose fanout is the one
    unbounded term in the envelope) are semi-joined OUT of the hits
    join (the ngram_jaccard_pairs pattern), making the bound
    eval_size x SHINGLE_DF_CAP unconditional. Per the no-silent-caps
    rule each eval doc reports ``n_capped`` — how many of its
    distinct shingles the cap excluded — and ``leak_ratio`` keeps the
    UNCAPPED denominator, so it reads as the documented lower bound
    (a capped shingle is boilerplate, not leak evidence; a doc wholly
    made of capped shingles shows n_capped == n_shingles, ratio 0).
    Aggregation is per eval doc (benchmark-sized output)."""
    d = _spread(_t(spark, sf_dir, "documents"))
    sh = (
        d.select("doc_id", normalized_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                shingles_of_tokens(F.col("toks"), k=DECONTAM_K)
            ).alias("s"),
        )
        .distinct()
    )
    # eval and train sides both read the distinct shingle stream
    sh = _persist(sh)
    ev = sh.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("eval_doc"), "s"
    )
    tr = sh.filter(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    # df cap (the ngram_jaccard_pairs skew guard): a shingle carried
    # by more than SHINGLE_DF_CAP docs is dropped from the hits join
    hot = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _SHINGLE_DF_CAP)
        .select("s")
    )
    ev = _persist(ev)  # sizes + capped + hits all read it
    hits = ev.join(hot, "s", "left_anti").join(tr, "s")
    capped = ev.join(hot, "s", "left_semi").groupBy("eval_doc").agg(
        F.count(F.lit(1)).alias("_nc")
    )
    sizes = (
        ev.groupBy("eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .join(capped, "eval_doc", "left")
        .select(
            "eval_doc",
            "n_shingles",
            F.coalesce(F.col("_nc"), F.lit(0)).cast("long").alias(
                "n_capped"
            ),
        )
    )
    agg = hits.groupBy("eval_doc").agg(
        F.countDistinct("s").alias("_ls"),
        F.countDistinct("train_doc").alias("_td"),
    )
    return (
        sizes.join(agg, "eval_doc", "left")
        .select(
            "eval_doc",
            "n_shingles",
            "n_capped",
            F.coalesce(F.col("_ls"), F.lit(0)).cast("long").alias(
                "n_leaked_shingles"
            ),
            F.coalesce(F.col("_td"), F.lit(0)).cast("long").alias(
                "n_train_docs"
            ),
            F.round(
                F.coalesce(F.col("_ls"), F.lit(0)).cast("double")
                / F.col("n_shingles"),
                4,
            ).alias("leak_ratio"),
        )
    )


# ---------------------------------------------------------------------
# Round 7 additions: language identification — the classic n-gram
# text-analysis stage (Cavnar-Trenkle 1994 profiles, the closed-form
# Naive-Bayes variant fastText's langid models converge to on char
# n-gram features).
# ---------------------------------------------------------------------

# Every LID_MOD-th document is the held-out evaluation slice; the rest
# are the labeled training corpus (the labeled-slice idiom of
# quality_classifier — production swaps the residue predicate for a
# real labeled seed set, identical plan shape).
LID_MOD = 5
LID_TEST_RES = 0

# char trigrams of the space-joined normalized token stream (reusing
# the shared tokenizer keeps both engines' normalization identical)
_LID_TRI_SQL = (
    "list_transform(range(1, greatest(length(s) - 2, 0) + 1),"
    " i -> substr(s, i, 3))"
)

# The full langid chain as shared CTEs (the _QC_MODEL_CTES idiom —
# one definition, two consumers: the per-doc prediction query and the
# held-out confusion report). Ends with lpred(doc_id, lang, cand,
# score, rk).
_LID_CTES = f"""ldoc AS (
        SELECT doc_id, lang,
               array_to_string({_TOKENIZE_SQL.format(col='text')}, ' ') AS s
        FROM documents),
    ltri AS (
        SELECT doc_id, lang, unnest({_LID_TRI_SQL}) AS t FROM ldoc),
    ldt AS (
        SELECT doc_id, lang, t, count(*) AS cnt
        FROM ltri GROUP BY doc_id, lang, t),
    lcnt AS (
        SELECT lang AS cand, t, CAST(count(*) AS DOUBLE) AS c
        FROM ltri WHERE doc_id % {LID_MOD} <> {LID_TEST_RES}
        GROUP BY lang, t),
    lv AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS v FROM lcnt),
    ltot AS (
        SELECT cand, CAST(sum(c) AS DOUBLE) AS tot FROM lcnt GROUP BY cand),
    lw AS (
        SELECT cand, t, ln((c + 1) / (tot + v)) AS w
        FROM lcnt JOIN ltot USING (cand) CROSS JOIN lv),
    lwu AS (SELECT cand, ln(1 / (tot + v)) AS wu FROM ltot CROSS JOIN lv),
    lsc AS (
        SELECT d.doc_id, d.lang, u.cand,
               round(sum(d.cnt * coalesce(w.w, u.wu)), 4) + 0 AS score
        FROM ldt d
        CROSS JOIN lwu u
        LEFT JOIN lw w ON w.cand = u.cand AND w.t = d.t
        GROUP BY d.doc_id, d.lang, u.cand),
    lpred AS (
        SELECT doc_id, lang, cand, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand DESC) AS rk
        FROM lsc)"""


def _lid_trigrams(d: DataFrame) -> DataFrame:
    """(doc_id, lang, t) exploded char trigrams of the space-joined
    normalized tokens; docs shorter than one trigram vanish (empty
    array explode), matching the oracle's empty range(). The join
    string is materialized in its own projection first (the
    shingles_of_tokens lambda-re-evaluation lesson)."""
    s = d.select(
        "doc_id",
        "lang",
        F.concat_ws(" ", normalized_tokens(F.col("text"))).alias("s"),
    )
    tri = F.when(
        F.length("s") >= 3,
        F.expr("transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))"),
    ).otherwise(F.array().cast("array<string>"))
    return s.select("doc_id", "lang", F.explode(tri).alias("t"))


def langid_model(tri: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train the char-trigram language model from the labeled slice
    inside `tri`: returns (weight frame [cand, t, w], per-language
    unseen-default frame [cand, wu]) where w is the add-one-smoothed
    per-language trigram log-probability ln((c+1)/(tot_l+V)) and
    wu_l = ln(1/(tot_l+V)).

    Scale: one groupBy over the slice's trigram stream to a frame
    bounded by charset^3 x n_languages (~100k x L rows — trigram
    vocabulary is CHARSET-bounded, unlike word vocab, so it
    broadcasts at any corpus size). V is a bounded 1-row scalar
    collect off the persisted count frame (the W4 discipline)."""
    cnt = _persist(
        tri.filter(F.col("doc_id") % LID_MOD != LID_TEST_RES)
        .groupBy(F.col("lang").alias("cand"), "t")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    v = float(cnt.select(F.countDistinct("t")).collect()[0][0] or 0)
    ltot = cnt.groupBy("cand").agg(F.sum("c").alias("tot"))
    lw = cnt.join(F.broadcast(ltot), "cand").select(
        "cand",
        "t",
        F.log((F.col("c") + 1) / (F.col("tot") + F.lit(v))).alias("w"),
    )
    lwu = ltot.select(
        "cand", F.log(F.lit(1.0) / (F.col("tot") + F.lit(v))).alias("wu")
    )
    return lw, lwu


def _langid_model_rows(
    spark: SparkSession, sf_dir: str
) -> tuple[list, list]:
    """The trained langid model as plain driver rows, memoized on the
    documents read (caching.memo — the quantizer discipline, r6): a
    language model is CORPUS state, so one session serving langid +
    langid_report + the bench's repeated passes trains once instead
    of re-running the trigram groupBy + vocabulary-count job per
    invocation. The collect is bounded by charset^3 x n_languages
    (~1.9k rows on the testdata corpus) and survives release_cached
    like the centroid memos; plain tuples, not Rows bound to a
    session."""
    d = _t(spark, sf_dir, "documents")

    def build() -> tuple[list, list]:
        lw, lwu = langid_model(_lid_trigrams(_spread(d)))
        return (
            [(r["cand"], r["t"], float(r["w"])) for r in lw.collect()],
            [(r["cand"], float(r["wu"])) for r in lwu.collect()],
        )

    return memo(("langid_model",), d, build)


@register(
    "langid",
    f"""
    WITH {_LID_CTES}
    SELECT doc_id, lang, cand AS pred_lang, score,
           CASE WHEN cand = lang THEN 1 ELSE 0 END AS is_correct
    FROM lpred WHERE rk = 1
    """,
)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language identification: a per-language char-trigram
    Naive-Bayes model is TRAINED IN-ENGINE from the labeled slice
    (docs outside the held-out residue class), then EVERY document is
    scored against every language and assigned the argmax — the
    language-ID stage every multilingual corpus pipeline runs before
    per-language processing (CCNet's fastText step; Cavnar-Trenkle
    n-gram profiles). Output: (doc_id, true lang, predicted lang,
    rounded log-likelihood of the winner, correctness flag — the flag
    is meaningful on the held-out slice, which langid_report reads).

    Scale shape — the score is computed in the DECOMPOSED form
    score_l = n·wu_l + Σ_seen cnt·(w_l(t) − wu_l), so the only
    corpus-sized exchanges are the per-doc trigram pre-aggregation
    and one doc-keyed shuffle of (doc, seen-language) partials; the
    doc×L fan-out happens on the DOC-count-sized frame (one row per
    doc, broadcast-nested-loop against the L-row default frame), not
    on the trigram stream. The model frames are charset^3-bounded
    and broadcast. The oracle computes the direct form
    Σ cnt·coalesce(w, wu) — algebraically identical; round(.,4)
    absorbs the last-ulp regrouping difference (the
    quality_classifier precedent). Argmax is a per-doc L-row window,
    rounded-score ties broken by language code descending in both
    engines."""
    # r12 (guide §2.4 share one exchange): spread the docs BY
    # doc_id HASH, not round-robin — every downstream key is a
    # superset of doc_id (the (doc,lang,t) count agg, the seen
    # partials agg on (doc,cand), the per-doc total agg, the
    # scored⋈seen join, the argmax window), and explode/broadcast
    # joins preserve the child partitioning, so ONE exchange of the
    # doc-sized rows replaces all five downstream exchanges of the
    # trigram-count-sized frames (plan: Exchange 6 -> 1 + the model
    # broadcast; plans/r12/langid_{before,after}_copart.txt). Same
    # width as _spread, still scale-adaptive; hash(doc_id) spreads as
    # evenly as round-robin on a synthetic-key corpus.
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # model from the per-corpus memo (one training job per session,
    # not per invocation)
    w_rows, wu_rows = _langid_model_rows(spark, sf_dir)
    lw = spark.createDataFrame(w_rows, "cand string, t string, w double")
    lwu = spark.createDataFrame(wu_rows, "cand string, wu double")
    # r12 (guide §2.4): ONE linear pipeline in the oracle's own direct
    # form, replacing the r11 two-branch decomposition (persisted dt →
    # seen-partials agg + per-doc-total agg → SMJ → window; 6
    # exchanges and a cache). The trigram-count frame
    # fans out ×L through two BROADCAST joins (lwu cross, lw left —
    # both charset^3-bounded) and ONE partition-local aggregation
    # computes score = Σ cnt·coalesce(w, wu) — textually the oracle's
    # lsc CTE, so the engines now regroup the SAME per-term products
    # (tighter than the decomposed n·wu + Σcnt·dw form round(.,4)
    # had to absorb). Because the docs were hash-spread on doc_id and
    # explode/broadcast joins preserve that partitioning, the
    # (doc,lang,t) count agg, the score agg, and the argmax window all
    # run WITHOUT their own exchanges: the whole query shuffles the
    # compact raw-doc rows exactly once (plan: Exchange 6 → 1; at
    # scale the removed dt exchange carried ~30-40 B per trigram vs
    # ~1 B per text char moved once up front). Single consumer ⇒ no
    # persist.
    tri = _lid_trigrams(d)
    dt = tri.groupBy("doc_id", "lang", "t").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    scored = (
        dt.crossJoin(F.broadcast(lwu))
        .join(F.broadcast(lw), ["cand", "t"], "left")
        .groupBy("doc_id", "lang", "cand")
        .agg(
            (
                F.round(
                    F.sum(
                        F.col("cnt")
                        * F.coalesce(F.col("w"), F.col("wu"))
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("score")
        )
    )
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand").desc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("cand").alias("pred_lang"),
            "score",
            F.when(F.col("cand") == F.col("lang"), 1)
            .otherwise(0)
            .alias("is_correct"),
        )
    )


@register(
    "langid_report",
    f"""
    WITH {_LID_CTES}
    SELECT lang AS true_lang, cand AS pred_lang, count(*) AS n
    FROM lpred
    WHERE rk = 1 AND doc_id % {LID_MOD} = {LID_TEST_RES}
    GROUP BY lang, cand
    ORDER BY true_lang, pred_lang
    """,
)
def q_langid_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out confusion matrix for the langid model: (true language,
    predicted language, count) over the evaluation residue slice only
    — the accuracy view a pipeline reads before trusting per-language
    routing (the synthetic corpus's text is language-independent by
    construction, so this matrix SHOWS near-chance accuracy; the
    point is the deterministic evaluation plumbing, not the score).

    Scale: reuses the full langid prediction plan, then one groupBy
    to an L×L-sized output."""
    pred = q_langid(spark, sf_dir)
    return (
        pred.filter(F.col("doc_id") % LID_MOD == LID_TEST_RES)
        .groupBy(
            F.col("lang").alias("true_lang"),
            F.col("pred_lang"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


@register(
    "cluster_dedup_keep_best",
    f"""
    WITH RECURSIVE {_NGRAM_CC_CTES},
    qtok AS (
        SELECT doc_id, unnest(toks) AS t
        FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
              FROM documents)
        WHERE len(toks) > 0),
    {_QC_MODEL_CTES},
    qsc AS (
        SELECT doc_id, round(avg(coalesce(w, wu)), 4) + 0 AS score
        FROM qtok LEFT JOIN qw USING (t) CROSS JOIN qunseen
        GROUP BY doc_id),
    brk AS (
        SELECT c.node AS doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY s.score DESC, c.node ASC) AS rk
        FROM comp c JOIN qsc s ON s.doc_id = c.node),
    bdrops AS (SELECT doc_id FROM brk WHERE rk <> 1)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d LEFT JOIN bdrops USING (doc_id)
    WHERE bdrops.doc_id IS NULL
    """,
)
def q_cluster_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-canonical cluster dedup: within every transitive
    near-dup cluster the member with the BEST model quality score
    survives (quality_classifier's in-engine-trained log-odds, the
    same frame the filter funnel screens on), rounded-score ties
    broken by smallest doc_id; unclustered documents pass through.
    This is the production upgrade over cluster_dedup_apply's min-id
    pick: when a boilerplate-wrapped scrape and a clean mirror of the
    same article share a cluster, the pipeline should keep the clean
    copy, not the one with the smaller crawl id (the keep-longest /
    keep-best policies of SlimPajama-style dedup).

    Scale: composes two memoized corpus-state jobs — the connected
    components labeling (_cc_over_ngram_pairs) and the quality score
    (one broadcast-join scan) — then one row_number window
    partitioned BY CLUSTER (cluster-sized partitions, no global
    sort) and one anti-join against the losers. Every clustered doc
    has a score by construction (clustering requires >= 3 tokens,
    scoring requires >= 1), so the inner join drops nothing."""
    d = _spread(_t(spark, sf_dir, "documents"))
    cc = _cc_over_ngram_pairs(spark, sf_dir)
    qc = q_quality_classifier(spark, sf_dir).select("doc_id", "score")
    scored = cc.join(qc, cc["node"] == qc["doc_id"]).select(
        F.col("node"), F.col("component"), F.col("score")
    )
    rk = Window.partitionBy("component").orderBy(
        F.col("score").desc(), F.col("node").asc()
    )
    bdrops = (
        scored.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") != 1)
        .select(F.col("node").alias("doc_id"))
    )
    return d.join(bdrops, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


@register(
    "novelty_score",
    f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh_list)) AS s
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')
                   ) AS sh_list
            FROM (SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
                  FROM documents))),
    dfc AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
    SELECT doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS novelty,
           round(avg(CAST(df AS DOUBLE)), 4) AS mean_df
    FROM sh JOIN dfc USING (s)
    GROUP BY doc_id
    """,
)
def q_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty profile: the fraction of a document's
    distinct 3-gram shingles that occur NOWHERE else in the corpus
    (df == 1), plus the mean corpus df of its shingles — the
    curation signal that separates boilerplate-heavy pages (novelty
    near 0, high mean_df) from genuinely fresh text, used for
    sampling weights and dedup triage between the binary verdicts of
    exact/near-dup detection and the quality model's seed-likeness.

    Scale: one shingle explode, one shingle-keyed groupBy for the df
    table (the inverted-index shape of ngram_jaccard_pairs, but
    aggregated — no pair fan-out and so no df cap needed: a
    boilerplate shingle contributes one narrow (s, df) row however
    many docs carry it), one join back on the shingle key, and one
    doc-keyed aggregate. Documents with zero shingles (< 3 tokens)
    are absent, as everywhere in the suite."""
    d = _spread(_t(spark, sf_dir, "documents"))
    sh = d.select(
        "doc_id", normalized_tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        F.explode(shingles_of_tokens(F.col("toks"), k=3)).alias("s"),
    )
    sh = _persist(sh)  # df table + per-doc join both read it
    dfc = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    uniq = F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
    return (
        sh.join(dfc, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            uniq.cast("long").alias("n_unique"),
            F.round(
                uniq.cast("double") / F.count(F.lit(1)), 4
            ).alias("novelty"),
            F.round(F.avg(F.col("df").cast("double")), 4).alias("mean_df"),
        )
    )


@register(
    "embedding_int8",
    """
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
        FROM embeddings),
    sc AS (
        SELECT vec_id, xs,
               list_max(list_transform(xs, x -> abs(x))) AS amax
        FROM v)
    SELECT vec_id,
           CAST(i - 1 AS INTEGER) AS i,
           CAST(CASE WHEN amax = 0 THEN 0
                     ELSE round(xs[i] * (127.0 / amax), 0) END
                AS INTEGER) AS q,
           round(CASE WHEN amax = 0 THEN 0.0 ELSE 127.0 / amax END, 6)
             AS scale
    FROM sc CROSS JOIN unnest(range(1, len(xs) + 1)) AS t(i)
    """,
)
def q_embedding_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (absmax scaling — the
    standard vector-store / on-disk-index export step): each vector
    is scaled by 127/max|x_i| and rounded, so the re-scaled codes
    reconstruct the vector to ~0.4% of its largest component while
    cutting memory 4x vs float32 (the same budget arithmetic as the
    PQ path, without codebook training — exact per-dim semantics, so
    fully oracle-checkable). Output is the exploded (vec_id, dim,
    code, scale) form; an all-zero vector quantizes to zeros with
    scale 0.

    Scale: map-only — per-vector amax, scale, and the posexplode are
    all row-local expressions; no shuffle anywhere. Both engines
    compute the identical double expression x*(127/amax) with
    away-from-zero rounding at .5."""
    e = _t(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("xs")
    ).withColumn(
        "amax", F.array_max(F.transform("xs", lambda x: F.abs(x)))
    )
    scale = F.when(F.col("amax") == 0, F.lit(0.0)).otherwise(
        F.lit(127.0) / F.col("amax")
    )
    return v.select(
        "vec_id",
        F.posexplode("xs").alias("i", "x"),
        scale.alias("_scale"),
    ).select(
        "vec_id",
        F.col("i").cast("int").alias("i"),
        F.round(F.col("x") * F.col("_scale"), 0).cast("int").alias("q"),
        F.round(F.col("_scale"), 6).alias("scale"),
    )


# ---------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------

DSIR_B = 4096  # hashed n-gram feature buckets (fixed dim, not vocab)
DSIR_K = 200  # selection budget for dsir_select

# Shared oracle CTE chain (the _SPANS_CTES one-definition idiom):
# tokenize -> unigram+bigram feature stream -> hashed bucket ->
# per-bucket class counts -> smoothed per-bucket log-likelihood ratio.
# Target distribution = the doc_id % 97 == 0 slice (the same
# benchmark-stand-in convention decontaminate uses); raw = the rest.
_DSIR_CTES = f"""tok AS (
        SELECT doc_id, {_TOKENIZE_SQL.format(col='text')} AS toks
        FROM documents),
    feat AS (
        SELECT doc_id, doc_id % 97 = 0 AS is_t,
               unnest(list_concat(toks,
                   CASE WHEN len(toks) >= 2 THEN
                       list_transform(range(1, len(toks)),
                           i -> array_to_string(
                               list_slice(toks, i, i + 1), ' '))
                   ELSE [] END)) AS f
        FROM tok WHERE len(toks) > 0),
    fb AS (
        SELECT doc_id, is_t,
               CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT)
                 % {DSIR_B} AS b
        FROM feat),
    bc AS (
        SELECT b,
               CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE) AS tc,
               CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS DOUBLE) AS rc
        FROM fb GROUP BY b),
    tot AS (SELECT sum(tc) AS tt, sum(rc) AS rt FROM bc),
    w AS (
        SELECT b, ln((tc + 1) / (tt + {DSIR_B}))
                  - ln((rc + 1) / (rt + {DSIR_B})) AS llr
        FROM bc, tot),
    dw AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
               round(sum(llr), 4) AS log_weight
        FROM fb JOIN w USING (b)
        WHERE NOT is_t
        GROUP BY doc_id)"""


def dsir_feature_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, is_t, b): the hashed unigram+bigram feature stream —
    the shared base of the batch DSIR queries and the stream trainer.
    is_t marks the target slice (doc_id % 97 == 0)."""
    toks = normalized_tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") > 0
    )
    n = F.size("toks")
    bi = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(
        "doc_id",
        (F.col("doc_id") % 97 == 0).alias("is_t"),
        F.explode(F.concat(F.col("toks"), bi)).alias("f"),
    ).select(
        "doc_id",
        "is_t",
        F.pmod(hex64(F.col("f")), F.lit(DSIR_B)).alias("b"),
    )


def dsir_bucket_weights(fb: DataFrame) -> DataFrame:
    """(b, llr): the Laplace-smoothed per-bucket log-likelihood-ratio
    table from a feature frame — <= DSIR_B rows by construction."""
    bc = fb.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0))
        .cast("double")
        .alias("tc"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1))
        .cast("double")
        .alias("rc"),
    )
    # totals via a window over the bucket frame — it is <= DSIR_B rows
    # (fixed feature dim), so the single window task is trivial at any
    # corpus size (the stratified_sample idiom)
    tot = Window.partitionBy(F.lit(1))
    tt = F.sum("tc").over(tot)
    rt = F.sum("rc").over(tot)
    llr = F.log((F.col("tc") + 1) / (tt + DSIR_B)) - F.log(
        (F.col("rc") + 1) / (rt + DSIR_B)
    )
    return bc.select("b", llr.alias("llr"), "tc", "rc")


def _dsir_weight_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared DSIR plan: hashed-feature stream (persisted once —
    the bucket-count build and the scoring join both read it), bucket
    class counts, smoothed log-likelihood-ratio table, per-doc sum."""
    fb = _persist(
        dsir_feature_frame(_spread(_t(spark, sf_dir, "documents")))
    )  # class counts + scoring join share it
    wtab = dsir_bucket_weights(fb).select("b", "llr")
    return (
        fb.filter(~F.col("is_t"))
        .join(F.broadcast(wtab), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("llr"), 4).alias("log_weight"),
        )
    )


@register(
    "dsir_weights",
    f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, n_feats, log_weight FROM dw
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed n-gram profile is. Features
    are unigrams + bigrams hashed into a FIXED {DSIR_B}-bucket space
    (the paper's trick: the feature dim is constant at any corpus
    size, unlike the observed-vocab quality_classifier); per bucket,
    a Laplace-smoothed log-likelihood ratio between the target slice
    (doc_id % 97 == 0, the decontaminate benchmark-stand-in) and the
    raw rest; per raw document, the importance weight is the SUM of
    its features' ratios — documents whose n-gram mass concentrates
    in target-heavy buckets score high.

    Scale: one explode over the corpus into (doc_id, bucket) rows
    (8-byte buckets, persisted once — the class-count build and the
    scoring join share it); the bucket table is {DSIR_B} rows by
    construction, so its totals-window is trivial and the scoring
    join is a broadcast. No vocab-sized shuffle anywhere — that is
    the operational difference from lm_quality/quality_classifier,
    whose weight tables grow with the vocabulary."""
    return _dsir_weight_frame(spark, sf_dir)


@register(
    "dsir_select",
    f"""
    WITH {_DSIR_CTES},
    sel AS (
        SELECT doc_id, log_weight FROM dw
        ORDER BY log_weight DESC, doc_id LIMIT {DSIR_K})
    SELECT doc_id, log_weight,
           CAST(row_number() OVER (ORDER BY log_weight DESC, doc_id)
                AS BIGINT) AS sel_rank
    FROM sel
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR selection step: keep the top-{DSIR_K} raw documents by
    importance weight (the deterministic variant of the paper's
    Gumbel-noise resampling — ranking on the ROUNDED weight with a
    doc_id tiebreak makes the cut reproducible across runs, engines,
    and partitionings, the property an auditable data mix needs; the
    noisy variant is one extra hash-seeded Gumbel column on top).

    Scale: ordering the per-doc weight frame with a LIMIT compiles to
    TakeOrderedAndProject — per-partition top-{DSIR_K} heaps then one
    {DSIR_K}-row merge at the driver, no global sort, no
    single-partition shuffle of the corpus. The rank window runs over
    the {DSIR_K}-row result, which is budget-sized by construction."""
    w = _dsir_weight_frame(spark, sf_dir)
    sel = (
        w.select("doc_id", "log_weight")
        .orderBy(F.col("log_weight").desc(), F.col("doc_id"))
        .limit(DSIR_K)
    )
    rank_w = Window.partitionBy(F.lit(1)).orderBy(
        F.col("log_weight").desc(), F.col("doc_id")
    )
    return sel.select(
        "doc_id",
        "log_weight",
        F.row_number().over(rank_w).cast("long").alias("sel_rank"),
    )


# ---------------------------------------------------------------------
# HyperLogLog distinct sketch — engine-portable register arithmetic
# ---------------------------------------------------------------------

HLL_REGS = 256  # 2^8 registers -> ~1.04/sqrt(256) = 6.5% rel. std. err
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_REGS)  # Flajolet et al. 2007
HLL_RHO_CAP = 62  # keep 2^rho inside double-exact integer range

# rho (position of the leftmost 1-bit, 1-based) over the 30 hex chars
# after the register byte, via string ops BOTH engines compute
# identically: leading-zero hex chars + the leading-zero bits of the
# first nonzero nibble. The all-zero tail (p ~ 16^-30) caps at the
# same value as the rho cap.
_HLL_RHO_SQL = f"""CASE WHEN st = '' THEN {HLL_RHO_CAP}
           ELSE least(4 * (30 - len(st)) +
                CASE WHEN substr(st, 1, 1) IN
                          ('8','9','a','b','c','d','e','f') THEN 0
                     WHEN substr(st, 1, 1) IN ('4','5','6','7') THEN 1
                     WHEN substr(st, 1, 1) IN ('2','3') THEN 2
                     ELSE 3 END + 1, {HLL_RHO_CAP}) END"""


# shared register-build CTE chain (tok -> md5 split -> per-(lang, reg)
# max rank) for the hll_distinct and hll_overlap oracles
_HLL_MX_CTES = f"""tok AS (
        SELECT lang, unnest({_TOKENIZE_SQL.format(col='text')}) AS t
        FROM documents),
    r AS (
        SELECT lang,
               CAST(concat('0x', substr(hx, 1, 2)) AS BIGINT) AS reg,
               regexp_replace(substr(hx, 3, 30), '^0+', '') AS st
        FROM (SELECT lang, md5(t) AS hx FROM tok)),
    mx AS (
        SELECT lang, reg, max({_HLL_RHO_SQL}) AS m
        FROM r GROUP BY lang, reg)"""


def _hll_est_sql(src: str, keys: str, out: str) -> str:
    """The estimator CTE text (alpha*m^2 harmonic mean + small-range
    linear counting) over a register relation ``src`` grouped by
    ``keys`` — one definition for the single-group and pair-union
    oracles."""
    return f"""
        SELECT {keys}, n_registers,
               round(CASE WHEN e <= {2.5 * HLL_REGS}
                           AND n_registers < {HLL_REGS}
                          THEN {HLL_REGS}.0
                               * ln({HLL_REGS}.0
                                    / ({HLL_REGS} - n_registers))
                          ELSE e END, 4) AS {out}
        FROM (
            SELECT {keys}, n_registers,
                   CAST({HLL_ALPHA!r} AS DOUBLE)
                     * {HLL_REGS * HLL_REGS}.0
                     / (sp + ({HLL_REGS} - n_registers)) AS e
            FROM (
                SELECT {keys}, CAST(count(*) AS BIGINT) AS n_registers,
                       sum(power(2.0, -m)) AS sp
                FROM {src} GROUP BY {keys}))"""


@register(
    "hll_distinct",
    f"""
    WITH {_HLL_MX_CTES}
    {_hll_est_sql('mx', 'lang', 'est_distinct')}
    """,
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate per language (Flajolet et
    al. 2007), computed with an ENGINE-PORTABLE register layout so the
    DuckDB oracle reproduces every register bit-for-bit (Spark's
    approx_count_distinct and DuckDB's approx sketches use different
    internals, so the builtins can never hash-match): the md5 hex of
    each token supplies the register index (first byte, {HLL_REGS}
    registers) and rho = leading-zero bits + 1 of the next 120 bits,
    derived with pure string ops identical in both engines. Estimator
    is the standard alpha*m^2 harmonic mean with the small-range
    linear-counting correction.

    Scale: THE map-side-combinable distinct count — registers
    max-combine, so the shuffle is at most |lang| x {HLL_REGS} rows of
    (lang, reg, m) regardless of corpus size, vs count(DISTINCT)'s
    shuffle of every distinct token. No dedup pass is needed at all
    (max over the token multiset equals max over the set). The same
    register frame also merges across corpus shards/days by the same
    max — the mergeability that makes sketches the 100 TB shape.
    Accuracy contract (1.04/sqrt(m) ~ 6.5% typical) and register
    mergeability are pinned in tests/test_dsir.py."""
    mx = hll_register_frame(_t(spark, sf_dir, "documents"))
    return hll_estimate(mx)


def hll_register_frame(docs: DataFrame) -> DataFrame:
    """(lang, reg, m) HLL register frame over a documents frame — the
    MERGEABLE sketch state: register frames from disjoint shards/days
    combine by groupBy(lang, reg).max(m) into the union's frame (the
    property tests/test_dsir.py pins), so incremental corpus builds
    never rescan history."""
    hx = F.md5(F.col("t"))
    r = docs.select(
        "lang", F.explode(normalized_tokens(F.col("text"))).alias("t")
    ).select(
        "lang",
        F.conv(F.substring(hx, 1, 2), 16, 10).cast("long").alias("reg"),
        F.regexp_replace(F.substring(hx, 3, 30), "^0+", "").alias("st"),
    )
    c = F.substring(F.col("st"), 1, 1)
    nib = (
        F.when(c.isin(*"89abcdef"), 0)
        .when(c.isin(*"4567"), 1)
        .when(c.isin(*"23"), 2)
        .otherwise(3)
    )
    rho = F.when(F.col("st") == "", F.lit(HLL_RHO_CAP)).otherwise(
        F.least(
            4 * (30 - F.length("st")) + nib + 1, F.lit(HLL_RHO_CAP)
        )
    )
    return r.groupBy("lang", "reg").agg(F.max(rho).alias("m"))


def hll_estimate(mx: DataFrame) -> DataFrame:
    """Collapse a (lang, reg, m) register frame into per-language
    estimates: alpha*m^2 harmonic mean with the small-range
    linear-counting correction (Flajolet et al. 2007)."""
    agg = mx.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("sp"),
    )
    e = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_REGS * HLL_REGS))
        / (F.col("sp") + (HLL_REGS - F.col("n_registers")))
    )
    est = F.when(
        (e <= 2.5 * HLL_REGS) & (F.col("n_registers") < HLL_REGS),
        F.lit(float(HLL_REGS))
        * F.log(F.lit(float(HLL_REGS)) / (HLL_REGS - F.col("n_registers"))),
    ).otherwise(e)
    return agg.select(
        "lang", "n_registers", F.round(est, 4).alias("est_distinct")
    )


@register(
    "dsir_resample",
    f"""
    WITH {_DSIR_CTES},
    keyed AS (
        SELECT doc_id, log_weight,
               round(log_weight - ln(-ln(
                   (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                 1, 15)) AS BIGINT) % 1000000 + 0.5)
                   / 1000000.0)), 4) AS gumbel_key
        FROM dw),
    sel AS (
        SELECT doc_id, log_weight, gumbel_key FROM keyed
        ORDER BY gumbel_key DESC, doc_id LIMIT {DSIR_K})
    SELECT doc_id, log_weight, gumbel_key,
           CAST(row_number() OVER (ORDER BY gumbel_key DESC, doc_id)
                AS BIGINT) AS sel_rank
    FROM sel
    """,
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's actual sampler: Gumbel-top-K resampling. Perturbing each
    log-weight with an independent Gumbel(0,1) draw and taking the
    top-{DSIR_K} samples WITHOUT replacement with probability
    proportional to exp(log_weight) — the Gumbel-max trick, exactly
    the paper's importance resampling (dsir_select is the
    noise-free argmax variant). The draw is HASH-SEEDED, not rand():
    u = (md5-prefix(doc_id) per-million bucket + 0.5) / 1e6, so the
    sample is a pure function of the corpus — reproducible across
    runs, engines, and partitionings (the stratified_sample
    discipline), while distributing as uniform(0,1) quantized to 1e6
    levels. gumbel = -ln(-ln(u)); the perturbed key is rounded to 4
    decimals BEFORE ranking so the cross-engine order is total
    (doc_id breaks residual ties).

    Scale: one map-only expression over the weight frame, then the
    same TakeOrderedAndProject top-K as dsir_select — per-partition
    heaps, no global sort, driver sees {DSIR_K} rows."""
    w = _dsir_weight_frame(spark, sf_dir)
    u = (
        F.pmod(hex64(F.col("doc_id").cast("string")), F.lit(1_000_000))
        + F.lit(0.5)
    ) / F.lit(1_000_000.0)
    key = F.round(F.col("log_weight") - F.log(-F.log(u)), 4)
    sel = (
        w.select("doc_id", "log_weight", key.alias("gumbel_key"))
        .orderBy(F.col("gumbel_key").desc(), F.col("doc_id"))
        .limit(DSIR_K)
    )
    rank_w = Window.partitionBy(F.lit(1)).orderBy(
        F.col("gumbel_key").desc(), F.col("doc_id")
    )
    return sel.select(
        "doc_id",
        "log_weight",
        "gumbel_key",
        F.row_number().over(rank_w).cast("long").alias("sel_rank"),
    )


@register(
    "hll_overlap",
    f"""
    WITH {_HLL_MX_CTES},
    langs AS (SELECT DISTINCT lang FROM mx),
    pairs AS (
        SELECT a.lang AS la, b.lang AS lb
        FROM langs a JOIN langs b ON a.lang < b.lang),
    pu AS (
        SELECT p.la, p.lb, m.reg, max(m.m) AS m
        FROM pairs p JOIN mx m ON m.lang IN (p.la, p.lb)
        GROUP BY p.la, p.lb, m.reg),
    eu AS ({_hll_est_sql('pu', 'la, lb', 'est_union')}),
    es AS ({_hll_est_sql('mx', 'lang', 'est_distinct')})
    SELECT eu.la AS lang_a, eu.lb AS lang_b,
           ea.est_distinct AS est_a, eb.est_distinct AS est_b,
           eu.est_union,
           round(greatest(0.0,
               ea.est_distinct + eb.est_distinct - eu.est_union), 4)
             AS est_overlap
    FROM eu
    JOIN es ea ON ea.lang = eu.la
    JOIN es eb ON eb.lang = eu.lb
    """,
)
def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch ALGEBRA: estimated distinct-token overlap between every
    language pair by inclusion-exclusion over HLL sketches —
    |A∩B| ≈ est(A) + est(B) - est(A∪B), where the union estimate
    comes for free from the register max-merge (the same merge the
    shard/stream paths use; union of sets == max of registers,
    exactly). This is the cross-corpus/cross-source audit a curation
    run wants ("how much vocabulary do these slices share?") at
    sketch cost: no token set ever materializes, no distinct shuffle,
    no pairwise token join.

    Scale: everything downstream of the register build operates on
    |langs| x {HLL_REGS}-row frames — the pair expansion is
    group-cardinality-squared over REGISTERS, never over tokens, so
    a 100 TB corpus pays exactly the hll_distinct build plus sketch
    arithmetic. Inclusion-exclusion inherits both sketches' error
    (small relative overlaps can clamp to 0 — documented estimator
    property, pinned directionally in tests/test_dsir.py)."""
    mx = hll_register_frame(_t(spark, sf_dir, "documents"))
    # single + pair-union estimates share it
    mx = _persist(mx)
    langs = mx.select("lang").distinct()
    a, b = langs.alias("a"), langs.alias("b")
    pairs = a.join(
        b, F.col("a.lang") < F.col("b.lang")
    ).select(F.col("a.lang").alias("la"), F.col("b.lang").alias("lb"))
    pu = (
        F.broadcast(pairs)
        .join(mx, mx["lang"].isin(F.col("la"), F.col("lb")))
        .groupBy("la", "lb", "reg")
        .agg(F.max("m").alias("m"))
    )

    def est(frame: DataFrame, keys: list, out: str) -> DataFrame:
        agg = frame.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_registers"),
            F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("sp"),
        )
        e = (
            F.lit(HLL_ALPHA)
            * F.lit(float(HLL_REGS * HLL_REGS))
            / (F.col("sp") + (HLL_REGS - F.col("n_registers")))
        )
        v = F.when(
            (e <= 2.5 * HLL_REGS) & (F.col("n_registers") < HLL_REGS),
            F.lit(float(HLL_REGS))
            * F.log(
                F.lit(float(HLL_REGS)) / (HLL_REGS - F.col("n_registers"))
            ),
        ).otherwise(e)
        return agg.select(*keys, F.round(v, 4).alias(out))

    eu = est(pu, ["la", "lb"], "est_union")
    es = est(mx, ["lang"], "est_distinct")
    ea = es.select(
        F.col("lang").alias("la"), F.col("est_distinct").alias("est_a")
    )
    eb = es.select(
        F.col("lang").alias("lb"), F.col("est_distinct").alias("est_b")
    )
    return (
        eu.join(ea, "la")
        .join(eb, "lb")
        .select(
            F.col("la").alias("lang_a"),
            F.col("lb").alias("lang_b"),
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.col("est_a") + F.col("est_b") - F.col("est_union"),
                ),
                4,
            ).alias("est_overlap"),
        )
    )


# ---------------------------------------------------------------------
# Deterministic per-group sample (exact-k representative slice)
# ---------------------------------------------------------------------

GROUP_SAMPLE_K = 16


@register(
    "group_sample",
    f"""
    WITH h AS (
        SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hk
        FROM documents),
    r AS (
        SELECT lang, doc_id, hk,
               row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id)
                   AS rn
        FROM h)
    SELECT lang, doc_id, hk, rn FROM r WHERE rn <= {GROUP_SAMPLE_K}
    """,
)
def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group deterministic sample: the first
    {GROUP_SAMPLE_K} documents of every language in md5-of-id order —
    the "give me k representative docs per stratum" slice behind eval
    sets, spot-check dashboards and per-domain manual review. Unlike
    stratified_sample (rate-based keep, output size proportional),
    the contract here is an exact per-group count; md5 order makes
    the pick a pure function of the row — reproducible across runs,
    engines and partitionings (the auditable-mix discipline).

    Scale: the naive form is a per-lang window over the WHOLE corpus
    — every document shuffles just to be discarded. The plan here
    prunes map-side first (operators/topk.partition_topk): each task
    keeps only its local top-k per lang (the global top-k is a subset
    of the union of local top-k's), so the exchange carries at most
    partitions x langs x k rows. The prune score is the first 13 hex
    digits (52 bits — exact in a double) of the hash, negated so
    score-DESC = hash-ASC; rows tied on the prefix are resolved by
    the full hash string, so the prune is exact. The window then
    ranks partitions x k survivors per lang, never the corpus."""
    d = _spread(_t(spark, sf_dir, "documents"))
    h = d.select(
        "lang",
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("hk"),
    ).withColumn(
        "score",
        -F.conv(F.substring("hk", 1, 13), 16, 10).cast("double"),
    )
    pruned = partition_topk(h, "lang", "score", "hk", GROUP_SAMPLE_K)
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return (
        pruned.select(
            "lang", "doc_id", "hk", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= GROUP_SAMPLE_K)
    )


# ---------------------------------------------------------------------
# Zipf fit (corpus token-frequency power law — vocab planning)
# ---------------------------------------------------------------------

ZIPF_TOP = 256


@register(
    "zipf_fit",
    f"""
    WITH tok AS (
        SELECT unnest({_TOKENIZE_SQL.format(col='text')}) AS t
        FROM documents),
    cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS r
           FROM cnt),
    top AS (SELECT c, r FROM rk WHERE r <= {ZIPF_TOP}),
    terms AS (
        SELECT CAST(ln(r) AS DECIMAL(38,15)) AS x,
               CAST(ln(c) AS DECIMAL(38,15)) AS y,
               CAST(ln(r) * ln(r) AS DECIMAL(38,15)) AS xx,
               CAST(ln(r) * ln(c) AS DECIMAL(38,15)) AS xy
        FROM top),
    s AS (
        SELECT count(*) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(xx) AS DOUBLE) AS sxx,
               CAST(sum(xy) AS DOUBLE) AS sxy
        FROM terms)
    SELECT n AS n_terms,
        floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
              * 10000 + 0.5) / 10000 AS zipf_slope,
        floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
              * 10000 + 0.5) / 10000 AS zipf_intercept
    FROM s
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the corpus unigram distribution:
    least-squares slope/intercept of ln(freq) vs ln(rank) across the
    top {ZIPF_TOP} tokens (ranked by freq desc, token asc so the
    cutoff is deterministic) — the one-number corpus-health summary
    (natural text ~ -1; a slope collapsing toward 0 flags boilerplate
    flooding, a cliff past rank k flags template spam), and the
    quantitative companion to token_histogram's raw head.

    Scale: one explode + map-side-combined groupBy bounded by VOCAB
    (not corpus) size; the head is orderBy+limit — Spark compiles it
    to TakeOrderedAndProject, each partition shipping only its local
    top-{ZIPF_TOP}; ranking and the moment sums then run on a
    {ZIPF_TOP}-row frame (provably tiny single partition). Moment
    sums accumulate in DECIMAL(38,15) so summation order can't drift
    the fit; the per-term ln() may differ from DuckDB's libm in the
    last ulp — absorbed by the 4-decimal quantizer, the lm_quality
    precedent."""
    d = _spread(_t(spark, sf_dir, "documents"))
    cnt = (
        d.select(F.explode(normalized_tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return zipf_fit_from_counts(cnt)


def zipf_fit_from_counts(cnt: DataFrame) -> DataFrame:
    """The Zipf least-squares fit from a (t, c) token-count frame —
    shared by the batch query above and the streamed snapshot
    (streaming/corpus.zipf_snapshot): token counts are ADD-mergeable,
    so the streamed sink only has to land count deltas and re-derive
    the fit from their sum."""
    top = cnt.orderBy(F.desc("c"), "t").limit(ZIPF_TOP)
    w = Window.orderBy(F.desc("c"), "t")
    ranked = top.select(
        "c", F.row_number().over(w).alias("r")
    )
    dec = "decimal(38,15)"
    lr, lc = F.log(F.col("r")), F.log(F.col("c"))
    terms = ranked.select(
        lr.cast(dec).alias("x"),
        lc.cast(dec).alias("y"),
        (lr * lr).cast(dec).alias("xx"),
        (lr * lc).cast(dec).alias("xy"),
    )
    s = terms.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("xy").cast("double").alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.alias("n_terms"),
        qround(slope, 4).alias("zipf_slope"),
        qround((sy - slope * sx) / n, 4).alias("zipf_intercept"),
    )


# ---------------------------------------------------------------------
# Source divergence (per-source token-distribution drift)
# ---------------------------------------------------------------------


@register(
    "source_divergence",
    f"""
    WITH tok AS (
        SELECT source, unnest({_TOKENIZE_SQL.format(col='text')}) AS t
        FROM documents),
    st AS (SELECT source, t, count(*) AS cst FROM tok GROUP BY 1, 2),
    ct AS (SELECT t, CAST(sum(cst) AS BIGINT) AS ct FROM st GROUP BY 1),
    ts AS (SELECT source, CAST(sum(cst) AS BIGINT) AS tsum,
                  CAST(sum(sum(cst)) OVER () AS BIGINT) AS tot
           FROM st GROUP BY source),
    terms AS (
        SELECT st.source,
            CAST((cst * 1.0 / tsum)
                 * ln((cst * 1.0 / tsum) / (ct * 1.0 / tot))
                 AS DECIMAL(38,15)) AS term,
            tsum
        FROM st JOIN ts USING (source) JOIN ct USING (t))
    SELECT source, tsum AS n_tokens,
        floor(CAST(sum(term) AS DOUBLE) * 10000 + 0.5) / 10000
            AS kl_divergence
    FROM terms
    GROUP BY source, tsum
    """,
)
def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(source ‖ corpus) over the
    unigram token distributions — the corpus-health screen that flags
    a source whose language has drifted from the mix (template spam,
    boilerplate flooding, a scraper gone wrong) before it poisons
    training. Every source token appears in the corpus by
    construction, so the divergence is total (no zero denominators);
    KL ≥ 0 with equality iff the source matches the corpus exactly.

    Scale: one explode + map-side-combined groupBy bounded by
    VOCAB × SOURCES (not corpus size); the corpus marginals are
    re-aggregates of that table, joined back vocab-keyed; the scalar
    total broadcasts. Per-term doubles cast to DECIMAL(38,15) before
    the sum, so summation order can't drift the divergence (the
    zipf_fit moment discipline); per-term ln() ulp differences vs
    DuckDB's libm are absorbed by the 4-decimal quantizer."""
    d = _spread(_t(spark, sf_dir, "documents"))
    st = (
        d.select(
            "source", F.explode(normalized_tokens(F.col("text"))).alias("t")
        )
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("cst"))
    )
    return source_divergence_from_counts(st)


def source_divergence_from_counts(st: DataFrame) -> DataFrame:
    """KL(source ‖ corpus) from a (source, t, cst) count frame —
    shared by the batch query above and the streamed snapshot
    (streaming/corpus.divergence_snapshot), the zipf_fit_from_counts
    factoring applied to the drift screen."""
    st = _persist(st)
    ct = st.groupBy("t").agg(F.sum("cst").alias("ct"))
    # the corpus total rides the SOURCES frame (cardinality-of-source
    # rows) as a window sum — the stratified_sample idiom; a scalar
    # crossJoin would compile to BroadcastNestedLoopJoin
    ts = (
        st.groupBy("source")
        .agg(F.sum("cst").alias("tsum"))
        .withColumn(
            "tot", F.sum("tsum").over(Window.partitionBy(F.lit(1)))
        )
    )
    p = F.col("cst") * F.lit(1.0) / F.col("tsum")
    q = F.col("ct") * F.lit(1.0) / F.col("tot")
    terms = (
        st.join(ts, "source")
        .join(ct, "t")
        .select(
            "source",
            (p * F.log(p / q)).cast("decimal(38,15)").alias("term"),
            "tsum",
        )
    )
    return (
        terms.groupBy("source", "tsum")
        .agg(qround(F.sum("term").cast("double"), 4).alias("kl_divergence"))
        .select("source", F.col("tsum").alias("n_tokens"), "kl_divergence")
    )
