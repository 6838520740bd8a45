"""The --annotate pipeline as a Spark plan (VariantAnnotator.java:64-147).

``annotate_run(snapshot_tables..., ontologies...)`` maps carpe-compliant
variants to disease (RDO) and phenotype (HPO) ontology terms, fans
gene-level annotations out to orthologs, merges/splits annotation
fields, and diffs against the existing annotation set:

- F14 carpe compliance filter       (VariantAnnotator.java:245-266)
- A4 PubMed aggregate               (VariantAnnotator.java:625-634)
- F15 condition split + strip       (VariantAnnotator.java:433-445)
- J8 concept->OMIM join             (VariantAnnotator.java:391-423)
- J9 OMIM->RDO synonym join         (Dao.java:576-596)
- J11/J12 tiered name match         (VariantAnnotator.java:425-581)
- J13 homolog fan-out               (VariantAnnotator.java:268-338)
- A1/A2 merge + A3 width split      (AnnotCache.java:79-258)
- J15 annotation diff               (AnnotCache.java:36-75)
- W5 guarded stale delete           (Dao.java:690-729)
- A8 unmatchable-condition report   (VariantAnnotator.java:583-607)

Every reference per-row DB lookup becomes a broadcast join; the
per-variant parallelStream becomes ordinary partition parallelism; the
two AnnotCache sync passes become two groupBys.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clinvar_pipeline_spark.config import (
    ANNOTATABLE_VARIANT_TYPES,
    EXCLUDED_CLINSIG,
    EXCLUDED_CONDITION_NAMES,
    SEARCHABLE_SPECIES_KEYS,
    STALE_ANNOT_DELETE_THRESHOLD,
    UNCERTAIN_EXCLUDED_SUBMITTER,
    WITH_INFO_WIDTH,
    XDB_KEY_MEDGEN,
    XDB_KEY_PUBMED,
    XREF_SOURCE_WIDTH,
)
from clinvar_pipeline_spark.functions.text import normalize_term_key, pack_width_buckets
from clinvar_pipeline_spark.operators.diff_sync import diff_sync
from clinvar_pipeline_spark.operators.guarded_delete import guarded_stale_delete

ANNOT_KEY = ["annotated_object_rgd_id", "term_acc", "aspect", "evidence", "with_info"]


@dataclass
class AnnotateResult:
    annotations: DataFrame  # next annotation state: incoming rows plus
    # existing rows the W5 guard kept (all of them when the breaker
    # aborted the stale delete)
    annot_diff: DataFrame
    unmatchable: DataFrame  # (condition, n, is_drug_response)
    counters: DataFrame
    stale: dict  # aspect -> GuardedDeleteResult


def carpe_compliant(variants: DataFrame) -> DataFrame:
    """F14: annotatable type, clin-sig not excluded, and not the
    Leeds-LIMM uncertain-significance exclusion."""
    return variants.filter(
        F.col("object_type").isin(*ANNOTATABLE_VARIANT_TYPES)
        & ~F.coalesce("clinical_significance", F.lit("")).isin(*EXCLUDED_CLINSIG)
        & ~(
            (F.col("clinical_significance") == "uncertain significance")
            & (F.col("submitter") == UNCERTAIN_EXCLUDED_SUBMITTER)
        )
    )


def pubmed_ids(xdb_ids: DataFrame) -> DataFrame:
    """A4: per variant, sorted 'PMID:'-prefixed '|'-joined set."""
    return (
        xdb_ids.filter(F.col("xdb_key") == XDB_KEY_PUBMED)
        .groupBy("rgd_id")
        .agg(
            F.concat_ws(
                "|",
                F.array_sort(F.collect_set(F.concat(F.lit("PMID:"), "acc_id"))),
            ).alias("xref_source")
        )
    )


def variant_conditions(variants: DataFrame) -> DataFrame:
    """F15: split trait_name on '|', strip the ' [RCV...' suffix, drop
    configured junk names. Returns (rgd_id, condition)."""
    c = variants.select(
        "rgd_id", F.explode(F.split(F.coalesce("trait_name", F.lit("")), "\\|")).alias("c")
    )
    stripped = F.when(
        F.instr(F.col("c"), " [RCV") > 0,
        F.expr("substring(c, 1, instr(c, ' [RCV') - 1)"),
    ).otherwise(F.col("c"))
    return (
        c.select("rgd_id", stripped.alias("condition"))
        .filter(
            (F.col("condition") != "")
            & ~F.col("condition").isin(*EXCLUDED_CONDITION_NAMES)
        )
        .distinct()
    )


def _term_index(ont_terms: DataFrame, ontology: str) -> DataFrame:
    """J11 normalized-name index over non-obsolete terms of one
    ontology: (norm_key, term_acc, term)."""
    t = ont_terms.filter(
        (F.col("ontology_id") == ontology) & ~F.col("is_obsolete")
    )
    return t.select(
        normalize_term_key("term").alias("nk"),
        F.col("acc_id").alias("term_acc"),
        F.col("term"),
    )


def _synonym_index(
    ont_terms: DataFrame, ont_synonyms: DataFrame, ontology: str
) -> DataFrame:
    t = ont_terms.filter(
        (F.col("ontology_id") == ontology) & ~F.col("is_obsolete")
    ).select(F.col("acc_id").alias("term_acc"), "term")
    syn = ont_synonyms.filter(F.col("type") == "exact").select(
        "term_acc", normalize_term_key("name").alias("nk")
    )
    return syn.join(t, "term_acc").select("nk", "term_acc", "term")


def tiered_term_match(
    conditions: DataFrame,
    aliases: DataFrame,
    ont_terms: DataFrame,
    ont_synonyms: DataFrame,
    ontology: str,
) -> tuple[DataFrame, DataFrame]:
    """J12 (VariantAnnotator.java:425-581): per (variant, condition),
    tier 1 = condition name vs term-name index, tier 2 = variant alias
    values vs the same index, tier 3 = condition name vs exact-synonym
    index. First tier with any hit wins; all hits of that tier kept.

    Returns (matches: rgd_id, condition, term_acc, term, match_by,
    tier; unmatched: rgd_id, condition)."""
    name_idx = F.broadcast(_term_index(ont_terms, ontology))
    syn_idx = F.broadcast(_synonym_index(ont_terms, ont_synonyms, ontology))

    t1 = (
        conditions.withColumn("nk", normalize_term_key("condition"))
        .join(name_idx, "nk")
        .select(
            "rgd_id",
            "condition",
            "term_acc",
            "term",
            F.concat(F.lit("term: "), "condition").alias("match_by"),
            F.lit(1).alias("tier"),
        )
    )
    al = aliases.select("rgd_id", F.col("value").alias("alias"))
    t2 = (
        conditions.join(al, "rgd_id")
        .withColumn("nk", normalize_term_key("alias"))
        .join(name_idx, "nk")
        .select(
            "rgd_id",
            "condition",
            "term_acc",
            "term",
            F.concat(F.lit("term: "), "alias").alias("match_by"),
            F.lit(2).alias("tier"),
        )
    )
    t3 = (
        conditions.withColumn("nk", normalize_term_key("condition"))
        .join(syn_idx, "nk")
        .select(
            "rgd_id",
            "condition",
            "term_acc",
            "term",
            F.concat(F.lit("synonym: "), "condition").alias("match_by"),
            F.lit(3).alias("tier"),
        )
    )
    all_tiers = t1.unionByName(t2).unionByName(t3)
    w = Window.partitionBy("rgd_id", "condition")
    best = (
        all_tiers.withColumn("best", F.min("tier").over(w))
        .filter(F.col("tier") == F.col("best"))
        .drop("best")
        .distinct()
    )
    unmatched = conditions.join(
        best.select("rgd_id", "condition").distinct(),
        ["rgd_id", "condition"],
        "left_anti",
    )
    return best, unmatched


def concept_terms(
    variants: DataFrame,
    xdb_ids: DataFrame,
    gene_assocs: DataFrame,
    concept_omim: DataFrame,
    ont_terms: DataFrame,
    ont_synonyms: DataFrame,
) -> DataFrame:
    """J8+J9: variant MedGen CUIs x associated genes -> OMIM ids ->
    RDO terms via exact 'OMIM:<id>' synonyms (non-obsolete). Returns
    (rgd_id, term_acc, term, match_by)."""
    cuis = xdb_ids.filter(F.col("xdb_key") == XDB_KEY_MEDGEN).select(
        "rgd_id", F.col("acc_id").alias("cui")
    )
    var_genes = gene_assocs.select(
        F.col("variant_rgd_id").alias("rgd_id"), "gene_rgd_id"
    )
    omims = (
        cuis.join(var_genes, "rgd_id")
        .join(F.broadcast(concept_omim), ["cui", "gene_rgd_id"])
        .select("rgd_id", "omim_id")
        .distinct()
    )
    rdo = ont_terms.filter(
        (F.col("ontology_id") == "RDO") & ~F.col("is_obsolete")
    ).select(F.col("acc_id").alias("term_acc"), "term")
    syn = ont_synonyms.filter(F.col("type") == "exact").select(
        "term_acc", "name"
    )
    omim_syn = syn.join(F.broadcast(rdo), "term_acc").withColumn(
        "omim_id", F.regexp_replace("name", "^OMIM:", "")
    ).filter(F.col("name").startswith("OMIM:"))
    return (
        omims.join(omim_syn, "omim_id")
        .select(
            "rgd_id",
            "term_acc",
            "term",
            F.concat(F.lit("OMIM:"), "omim_id").alias("match_by"),
        )
        .distinct()
    )


def merge_and_split_annotations(annots: DataFrame) -> DataFrame:
    """A1+A2+A3 (AnnotCache.java:79-258): merge XREF_SOURCE across the
    9-field key, then WITH_INFO across the swapped key, then split
    rows whose merged fields exceed the column widths (greedy packing
    of the sorted elements)."""
    key1 = [
        "annotated_object_rgd_id",
        "term_acc",
        "aspect",
        "evidence",
        "with_info",
        "notes",
    ]
    p1 = annots.groupBy(*key1).agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.split(F.coalesce("xref_source", F.lit("")), "[\\|,;]")
                    )
                )
            )
        ).alias("xs_arr")
    ).withColumn("xs_arr", F.array_remove("xs_arr", ""))
    key2 = [
        "annotated_object_rgd_id",
        "term_acc",
        "aspect",
        "evidence",
        "notes",
        "xs_arr",
    ]
    p2 = p1.groupBy(*key2).agg(
        F.array_sort(
            F.array_distinct(F.collect_list(F.coalesce("with_info", F.lit(""))))
        ).alias("wi_arr")
    ).withColumn("wi_arr", F.array_remove("wi_arr", ""))
    split_xs = p2.select(
        *[c for c in p2.columns if c != "xs_arr"],
        F.explode_outer(pack_width_buckets(F.col("xs_arr"), XREF_SOURCE_WIDTH)).alias(
            "xs_bucket"
        ),
    )
    split_wi = split_xs.select(
        *[c for c in split_xs.columns if c != "wi_arr"],
        F.explode_outer(pack_width_buckets(F.col("wi_arr"), WITH_INFO_WIDTH)).alias(
            "wi_bucket"
        ),
    )
    nullify = lambda c: F.when(c != "", c)  # noqa: E731
    return split_wi.select(
        "annotated_object_rgd_id",
        "term_acc",
        "aspect",
        "evidence",
        "notes",
        nullify(F.concat_ws("|", F.coalesce("xs_bucket", F.array()))).alias(
            "xref_source"
        ),
        nullify(F.concat_ws("|", F.coalesce("wi_bucket", F.array()))).alias(
            "with_info"
        ),
    )


def annotate_run(
    variants: DataFrame,
    xdb_ids: DataFrame,
    gene_assocs: DataFrame,
    aliases: DataFrame,
    orthologs: DataFrame,
    ont_terms: DataFrame,
    ont_synonyms: DataFrame,
    concept_omim: DataFrame,
    existing_annotations: DataFrame,
) -> AnnotateResult:
    """Full --annotate semantics. ``orthologs`` needs (gene_rgd_id,
    homolog_rgd_id, homolog_species_type_key); ``concept_omim``
    (cui, gene_rgd_id, omim_id); ``existing_annotations`` in the
    output schema."""
    carpe = carpe_compliant(variants).localCheckpoint(eager=True)
    pm = pubmed_ids(xdb_ids)
    conds = variant_conditions(carpe)

    # disease track: concept path wins per variant-with-mapping;
    # name tiers cover the rest (the reference falls through per
    # unmapped MedGen id; variant granularity is the set-oriented form)
    cterms = concept_terms(
        carpe, xdb_ids, gene_assocs, concept_omim, ont_terms, ont_synonyms
    )
    concept_vars = cterms.select("rgd_id").distinct()
    name_conds = conds.join(concept_vars, "rgd_id", "left_anti")
    nterms, unmatched = tiered_term_match(
        name_conds, aliases, ont_terms, ont_synonyms, "RDO"
    )
    d_terms = cterms.unionByName(
        nterms.select("rgd_id", "term_acc", "term", "match_by")
    ).distinct()

    # phenotype track: name tiers only (VariantAnnotator.java:497-507)
    h_terms, _ = tiered_term_match(
        conds, aliases, ont_terms, ont_synonyms, "HP"
    )

    def variant_annots(terms: DataFrame, aspect: str) -> DataFrame:
        return (
            terms.join(pm, "rgd_id", "left")
            .select(
                F.col("rgd_id").alias("annotated_object_rgd_id"),
                "term_acc",
                F.lit(aspect).alias("aspect"),
                F.lit("IAGP").alias("evidence"),
                F.lit(None).cast("string").alias("with_info"),
                F.col("xref_source"),
                F.concat(F.lit("ClinVar Annotator: match by "), "match_by").alias(
                    "notes"
                ),
            )
        )

    v_annots = variant_annots(d_terms, "D").unionByName(
        variant_annots(
            h_terms.select("rgd_id", "term_acc", "term", "match_by"), "H"
        )
    )

    # gene + homolog annotations iff exactly one associated gene (J13)
    gene_counts = gene_assocs.groupBy("variant_rgd_id").agg(
        F.count(F.lit(1)).alias("n_genes")
    )
    single_gene = (
        gene_assocs.join(gene_counts, "variant_rgd_id")
        .filter(F.col("n_genes") == 1)
        .select("variant_rgd_id", "gene_rgd_id")
    )
    term_aspect = d_terms.withColumn("aspect", F.lit("D")).unionByName(
        h_terms.select("rgd_id", "term_acc", "term", "match_by").withColumn(
            "aspect", F.lit("H")
        )
    )
    g = term_aspect.join(
        single_gene.withColumnRenamed("variant_rgd_id", "rgd_id"), "rgd_id"
    ).join(pm, "rgd_id", "left")
    human_gene = g.select(
        F.col("gene_rgd_id").alias("annotated_object_rgd_id"),
        "term_acc",
        "aspect",
        F.lit("IAGP").alias("evidence"),
        F.concat(F.lit("RGD:"), F.col("rgd_id").cast("string")).alias("with_info"),
        "xref_source",
        F.concat(F.lit("ClinVar Annotator: match by "), "match_by").alias("notes"),
    )
    homologs = orthologs.filter(
        F.col("homolog_species_type_key").isin(*SEARCHABLE_SPECIES_KEYS)
    )
    homolog_annots = (
        g.join(F.broadcast(homologs), "gene_rgd_id")
        .select(
            F.col("homolog_rgd_id").alias("annotated_object_rgd_id"),
            "term_acc",
            "aspect",
            F.lit("ISO").alias("evidence"),
            F.concat(F.lit("RGD:"), F.col("gene_rgd_id").cast("string")).alias(
                "with_info"
            ),
            "xref_source",
            F.concat(F.lit("ClinVar Annotator: match by "), "match_by").alias(
                "notes"
            ),
        )
    )

    incoming = merge_and_split_annotations(
        v_annots.unionByName(human_gene).unionByName(homolog_annots)
    ).localCheckpoint(eager=True)

    # one job: the annot_diff write and the counters both read it, and
    # an unmaterialized diff re-runs its full outer join for each
    diff = diff_sync(
        incoming,
        existing_annotations,
        key_cols=ANNOT_KEY,
        compare_cols=["xref_source", "notes"],
    ).localCheckpoint(eager=True)

    # W5: per-aspect guarded stale delete, wired into the output state
    # (round-2 fix — the breaker used to be computed but the returned
    # annotations were just ``incoming``, so existing rows the guard
    # chose to KEEP on abort were silently lost).
    stale = {}
    survivors = None
    for aspect in ("D", "H"):
        stale[aspect] = guarded_stale_delete(
            existing_annotations.filter(F.col("aspect") == aspect),
            touched=incoming.filter(F.col("aspect") == aspect).select(*ANNOT_KEY),
            key_cols=ANNOT_KEY,
            threshold=STALE_ANNOT_DELETE_THRESHOLD,
        )
        # existing rows the guard kept that are NOT superseded by an
        # incoming row: all of them when aborted, none when every kept
        # row was touched (kept == touched rows, anti-joined away).
        inc_keys = incoming.filter(F.col("aspect") == aspect).select(
            *[F.col(c).alias(f"_i_{c}") for c in ANNOT_KEY]
        ).dropDuplicates()
        cond = None
        for c in ANNOT_KEY:
            eq = F.col(c).eqNullSafe(F.col(f"_i_{c}"))
            cond = eq if cond is None else cond & eq
        surv = stale[aspect].kept.join(inc_keys, on=cond, how="left_anti")
        survivors = surv if survivors is None else survivors.unionByName(surv)
    # aspects this pipeline does not own pass through untouched
    other_aspects = existing_annotations.filter(~F.col("aspect").isin("D", "H"))
    next_annotations = incoming.unionByName(
        survivors.select(*incoming.columns)
    ).unionByName(other_aspects.select(*incoming.columns))

    # A8: unmatchable-condition histogram (upper-cased, drug-response
    # flagged by the RESPONSE substring)
    unmatch = (
        unmatched.select(F.upper("condition").alias("condition"))
        .groupBy("condition")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("is_drug_response", F.col("condition").contains("RESPONSE"))
    )

    counters = (
        diff.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.concat(F.lit("ANNOTATIONS_"), "change_type").alias("counter"), "value"
        )
    )

    return AnnotateResult(
        annotations=next_annotations,
        annot_diff=diff,
        unmatchable=unmatch,
        counters=counters,
        stale=stale,
    )
