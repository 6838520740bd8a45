"""--annotate plan tests: concept-path (J8/J9), tiered name match
(J12: tier-1 name, tier-2 alias, tier-3 synonym), exactly-one-gene
rule + homolog ISO fan-out (J13), merge/split (A1-A3), diff (J15),
unmatchable report (A8), idempotent re-run."""

import pytest
from pyspark.sql import functions as F

from clinvar_pipeline_spark.plans.annotate import annotate_run

V = "rgd_id long, symbol string, name string, object_type string, clinical_significance string, submitter string, trait_name string"


@pytest.fixture(scope="module")
def inputs(spark):
    variants = spark.createDataFrame(
        [
            # concept-path variant (MedGen CUI mapped)
            (1, "CV1", "v1", "deletion", "pathogenic", "LabA", "SpastiC paraplegia 48 [RCV1]"),
            # tier-1 name-match variant
            (2, "CV2", "v2", "insertion", "likely pathogenic", "LabB", "Noonan syndrome [RCV2]"),
            # tier-2: condition unmatched, alias matches
            (3, "CV3", "v3", "duplication", "pathogenic", "LabC", "Mystery disease [RCV3]"),
            # tier-3: only an exact synonym matches
            (4, "CV4", "v4", "deletion", "pathogenic", "LabD", "Old dystrophy name [RCV4]"),
            # unmatchable
            (5, "CV5", "v5", "deletion", "pathogenic", "LabE", "Totally unknown thing [RCV5]|Caffeine response [RCV5]"),
            # carpe-excluded: benign
            (6, "CV6", "v6", "deletion", "benign", "LabF", "Noonan syndrome [RCV6]"),
            # carpe-excluded: wrong type
            (7, "CV7", "v7", "inversion", "pathogenic", "LabG", "Noonan syndrome [RCV7]"),
        ],
        V,
    )
    xdb_ids = spark.createDataFrame(
        [
            (1, 54, "C0001"),  # MedGen CUI with concept mapping
            (1, 2, "111"),
            (1, 2, "222"),
            (2, 2, "333"),
        ],
        "rgd_id long, xdb_key int, acc_id string",
    )
    gene_assocs = spark.createDataFrame(
        [(1, 101), (2, 102), (3, 103), (4, 104), (5, 105), (2, 106)][:5]
        + [(2, 102)][:0]  # variant 2: single gene 102
        ,
        "variant_rgd_id long, gene_rgd_id long",
    )
    aliases = spark.createDataFrame(
        [(3, "Marfan syndrome", "RCV3")],
        "rgd_id long, value string, notes string",
    )
    orthologs = spark.createDataFrame(
        [
            (102, 202, 1),  # rat homolog of gene 102
            (102, 302, 2),  # mouse homolog
            (102, 402, 9),  # non-searchable species -> filtered
        ],
        "gene_rgd_id long, homolog_rgd_id long, homolog_species_type_key int",
    )
    ont_terms = spark.createDataFrame(
        [
            ("RDO:1", "RDO", "Hereditary spastic paraplegia 48", False),
            ("RDO:2", "RDO", "Noonan syndrome", False),
            ("RDO:3", "RDO", "Marfan syndrome", False),
            ("RDO:4", "RDO", "Muscular dystrophy", False),
            ("RDO:5", "RDO", "Obsolete disease", True),
            ("HP:1", "HP", "Noonan syndrome", False),
        ],
        "acc_id string, ontology_id string, term string, is_obsolete boolean",
    )
    ont_synonyms = spark.createDataFrame(
        [
            ("RDO:1", "OMIM:613647", "exact"),
            ("RDO:4", "Old dystrophy name", "exact"),
            ("RDO:2", "Noonan-ish", "narrow_synonym"),
        ],
        "term_acc string, name string, type string",
    )
    concept_omim = spark.createDataFrame(
        [("C0001", 101, "613647")],
        "cui string, gene_rgd_id long, omim_id string",
    )
    existing = spark.createDataFrame(
        [],
        "annotated_object_rgd_id long, term_acc string, aspect string,"
        " evidence string, with_info string, xref_source string, notes string",
    )
    return dict(
        variants=variants,
        xdb_ids=xdb_ids,
        gene_assocs=gene_assocs,
        aliases=aliases,
        orthologs=orthologs,
        ont_terms=ont_terms,
        ont_synonyms=ont_synonyms,
        concept_omim=concept_omim,
        existing_annotations=existing,
    )


@pytest.fixture(scope="module")
def result(inputs):
    return annotate_run(**inputs)


def test_concept_path(result):
    d = result.annotations.filter(
        (F.col("annotated_object_rgd_id") == 1) & (F.col("aspect") == "D")
    ).collect()
    assert len(d) == 1
    r = d[0]
    assert r["term_acc"] == "RDO:1"
    assert r["notes"] == "ClinVar Annotator: match by OMIM:613647"
    # A4: sorted PMID pipe set
    assert r["xref_source"] == "PMID:111|PMID:222"
    assert r["evidence"] == "IAGP"


def test_tier1_name_match_and_aspects(result):
    d = result.annotations.filter(F.col("annotated_object_rgd_id") == 2).collect()
    by_aspect = {(r["aspect"], r["term_acc"]) for r in d}
    # RDO and HP both match 'Noonan syndrome' by name (tier 1)
    assert ("D", "RDO:2") in by_aspect
    assert ("H", "HP:1") in by_aspect


def test_tier2_alias_match(result):
    d = result.annotations.filter(
        (F.col("annotated_object_rgd_id") == 3) & (F.col("aspect") == "D")
    ).collect()
    assert {r["term_acc"] for r in d} == {"RDO:3"}
    assert d[0]["notes"] == "ClinVar Annotator: match by term: Marfan syndrome"


def test_tier3_synonym_match(result):
    d = result.annotations.filter(
        (F.col("annotated_object_rgd_id") == 4) & (F.col("aspect") == "D")
    ).collect()
    assert {r["term_acc"] for r in d} == {"RDO:4"}
    assert d[0]["notes"].startswith("ClinVar Annotator: match by synonym:")


def test_carpe_exclusions(result):
    excluded = result.annotations.filter(
        F.col("annotated_object_rgd_id").isin(6, 7)
    ).count()
    assert excluded == 0


def test_single_gene_homolog_fanout(result):
    # variant 2 has exactly one gene (102): human-gene annot + 2
    # searchable homologs with ISO evidence and with_info RGD:102
    gene_annots = result.annotations.filter(
        F.col("annotated_object_rgd_id").isin(102, 202, 302, 402)
    ).collect()
    rows = {
        (r["annotated_object_rgd_id"], r["evidence"], r["with_info"], r["aspect"])
        for r in gene_annots
    }
    assert (102, "IAGP", "RGD:2", "D") in rows
    assert (202, "ISO", "RGD:102", "D") in rows
    assert (302, "ISO", "RGD:102", "D") in rows
    assert not any(r[0] == 402 for r in rows)
    # HP fan-out too
    assert (102, "IAGP", "RGD:2", "H") in rows


def test_unmatchable_report(result):
    um = {r["condition"]: r for r in result.unmatchable.collect()}
    assert "TOTALLY UNKNOWN THING" in um
    assert um["CAFFEINE RESPONSE"]["is_drug_response"]
    # matched conditions are absent
    assert "NOONAN SYNDROME" not in um


def test_diff_all_inserts_then_idempotent(inputs, result):
    classes = {
        r["change_type"]
        for r in result.annot_diff.select("change_type").distinct().collect()
    }
    assert classes == {"INSERT"}
    # second run against the produced annotations: everything UNCHANGED
    second = annotate_run(
        **{**inputs, "existing_annotations": result.annotations}
    )
    classes2 = {
        r["change_type"]
        for r in second.annot_diff.select("change_type").distinct().collect()
    }
    assert classes2 == {"UNCHANGED"}
    assert not second.stale["D"].aborted
    assert second.stale["D"].stale_count == 0
    # and the output state equals the incoming state (nothing stale to
    # keep, nothing lost)
    assert second.annotations.count() == result.annotations.count()


def test_stale_annot_guard_abort_keeps_existing(spark, inputs, result):
    """W5 circuit breaker (Dao.java:690-729): when the stale fraction
    of an aspect exceeds 5%, the delete aborts and every existing row
    survives into the output annotation state."""
    extra = spark.createDataFrame(
        [
            (7777 + i, f"RDO:X{i}", "D", "IAGP", None, None, None)
            for i in range(30)
        ],
        "annotated_object_rgd_id long, term_acc string, aspect string,"
        " evidence string, with_info string, xref_source string, notes string",
    )
    existing = result.annotations.select(*extra.columns).unionByName(extra)
    run = annotate_run(**{**inputs, "existing_annotations": existing})
    assert run.stale["D"].aborted
    kept_extras = run.annotations.filter(
        F.col("annotated_object_rgd_id") >= 7777
    ).count()
    assert kept_extras == 30


def test_counters_equal_plain_recount(spark, inputs, tmp_path):
    """The annotation diff is computed once, and the ANNOTATIONS_*
    counters are one groupBy over that checkpoint; they equal a plain
    groupBy over the annot_diff that lands, on a first run (INSERTs)
    and a re-run (UNCHANGED)."""
    existing = inputs["existing_annotations"]
    for run in ("first", "rerun"):
        res = annotate_run(**{**inputs, "existing_annotations": existing})
        # materialized: the write and the counters do not re-run the join
        assert "Join" not in res.annot_diff._jdf.queryExecution().executedPlan().toString()
        path = str(tmp_path / run)
        res.annot_diff.write.parquet(path)
        want = {
            f"ANNOTATIONS_{r['change_type']}": r["count"]
            for r in spark.read.parquet(path).groupBy("change_type").count().collect()
        }
        got = {r["counter"]: r["value"] for r in res.counters.collect()}
        assert got == want, run
        existing = res.annotations
    assert set(got) == {"ANNOTATIONS_UNCHANGED"}


def test_annotate_runs_no_python(spark, inputs):
    """annotate_run's jobs, the merged-and-split ``incoming`` checkpoint
    (the width packing) among them, run no Python-eval stage."""
    from tests.test_load_plan import executed_plans, python_stages

    def run():
        annotate_run(**inputs).counters.collect()

    plans = executed_plans(spark, run)
    assert any("Generate" in p for p in plans)  # the bucket explodes
    assert python_stages(plans) == 0
