"""--clinvar2vcf plan tests: dbSNP rs resolution (J17), reference-base
check (F18), indel padding (W6), allele-set grouping (A5), multi-base
guard (F17), line render."""

import pytest
from pyspark.sql import functions as F

from clinvar_pipeline_spark.caching import release_cached
from clinvar_pipeline_spark.plans.vcf import clinvar2vcf_export


@pytest.fixture(scope="module")
def vcf_inputs(spark):
    variants = spark.createDataFrame(
        [
            # snv, ref matches genome base
            (1, "single nucleotide variant", "A", "G", None),
            # snv same locus, different alt -> merged alleles
            (2, "single nucleotide variant", "A", "T", "rs77"),
            # snv with bad ref (genome says C) -> dropped (F18)
            (3, "single nucleotide variant", "G", "T", None),
            # insertion -> padding normalization (W6)
            (4, "insertion", None, "GG", None),
            # deletion at multi-char-both locus -> F17 guard drops line
            (5, "deletion", "AT", None, "rs99"),
            (6, "insertion", None, "CC", "rs99"),
            # malformed: insertion with a declared ref -> bad-ref drop
            (7, "insertion", "A", "TT", None),
            # deletion with var starting '-' -> padded normally
            (8, "deletion", "AT", "-", None),
            # malformed: deletion with a declared var -> dropped
            (9, "deletion", "C", "G", None),
        ],
        "rgd_id long, object_type string, ref_nuc string, var_nuc string, rs_id string",
    )
    map_positions = spark.createDataFrame(
        [
            (1, 38, "1", 100, 100),
            (2, 38, "1", 100, 100),
            (3, 38, "1", 200, 200),
            (4, 38, "2", 300, 301),
            (5, 38, "2", 400, 401),
            (6, 38, "2", 400, 401),
            (7, 38, "3", 500, 501),
            (8, 38, "3", 500, 501),
            (9, 38, "3", 500, 501),
            (1, 17, "1", 99, 99),  # non-GRCh38 row ignored
        ],
        "rgd_id long, map_key int, chromosome string, start_pos int, stop_pos int",
    )
    db_snp = spark.createDataFrame(
        [("1", 100, "A", "G", "rs42")],
        "chromosome string, position int, ref_allele string, allele string, snp_name string",
    )
    ref_bases = spark.createDataFrame(
        [
            ("1", 100, "A"),
            ("1", 200, "C"),
            ("2", 300, "T"),
            # deletion padding reads the base BEFORE the run (pos-1)
            ("2", 399, "G"),
            ("2", 400, "G"),
            ("3", 499, "T"),
            ("3", 500, "A"),
        ],
        "chromosome string, position int, base string",
    )
    return variants, map_positions, db_snp, ref_bases


@pytest.fixture(scope="module")
def export(vcf_inputs):
    # both outputs of the CLI's export, collected before the shared
    # flagged-rows persist is released (as cmd_clinvar2vcf does)
    lines_df, counters_df = clinvar2vcf_export(*vcf_inputs)
    try:
        lines = {(r["chr"], r["pos"], r["line"]) for r in lines_df.collect()}
        counters = {r["counter"]: r["value"] for r in counters_df.collect()}
    finally:
        release_cached()
    return lines, counters


@pytest.fixture(scope="module")
def lines(export):
    return export[0]


def test_drop_counters_observable(export):
    # the three deliberate-drop classes (F18 mismatch, bad-ref ins/del)
    # are counted, never silent: variants 3, 7, 9 in the fixture
    counters = export[1]
    assert counters == {
        "SNV_REF_MISMATCH": 1,
        "INSERTION_BAD_REF": 1,
        "DELETION_BAD_VAR": 1,
    }


def test_snv_merge_and_rs_resolution(lines):
    by_pos = {(c, p): ln for c, p, ln in lines}
    # variant 1+2 share locus but differ in rs (resolved rs42 vs rs77)
    assert ("1", 100) in by_pos
    snv_lines = [ln for (c, p, ln) in lines if (c, p) == ("1", 100)]
    assert any("rs42\tA\tG" in ln for ln in snv_lines)
    assert any("rs77\tA\tT" in ln for ln in snv_lines)


def test_bad_ref_dropped(lines):
    assert not any(p == 200 for _, p, _ in lines)


def test_insertion_padding(lines):
    ins = [ln for c, p, ln in lines if (c, p) == ("2", 300)]
    assert len(ins) == 1
    # pad base T: ref=T, alt=TGG
    assert "\tT\tTGG\t" in ins[0]


def test_multibase_guard_and_deletion_padding(lines):
    lines_400 = [ln for c, p, ln in lines if (c, p) == ("2", 400)]
    # deletion pads from pos-1 (399 -> G): ref=G+AT=GAT, alt=G ->
    # ref_m='GAT'(3) alt_m='G'(1) -> kept; insertion rs99 pads from pos
    # (400 -> G): ref=G alt=GCC -> kept; they differ in vt so remain
    # separate grouped lines
    assert len(lines_400) == 2
    assert any("\tGAT\tG\t" in ln for ln in lines_400)
    assert any("\tG\tGCC\t" in ln for ln in lines_400)


def test_malformed_indels_dropped_dash_var_padded(lines):
    lines_500 = [ln for c, p, ln in lines if (c, p) == ("3", 500)]
    # 7 (insertion w/ declared ref) and 9 (deletion w/ declared var)
    # are dropped; 8 (var '-') pads from 499 -> T: ref=TAT, alt=T
    assert len(lines_500) == 1
    assert "\tTAT\tT\t" in lines_500[0]
