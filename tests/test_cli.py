"""End-to-end CLI dispatch test (Manager.java:45-68 parity): --load a
fixture release into a snapshot, --addRsIds against a dbSNP table,
--clinvar2vcf the result, --qcDuplicateTerms over a small ontology.

cli.main builds its own session via get_spark (getOrCreate reuses the
test session), so this drives the exact user entry path."""

import shutil

import pytest
from pyspark.sql import functions as F

from clinvar_pipeline_spark.cli import main
from tests.test_vcv_xml import (
    FULL_RECORD,
    HEADER,
    MINUS_RECORD,
    TRAILER,
)


@pytest.fixture(scope="module")
def cli_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    xml = root / "release.xml"
    xml.write_text(HEADER + FULL_RECORD + MINUS_RECORD + TRAILER, "utf-8")
    spark.createDataFrame(
        [(101, "9907", "AP5Z1"), (102, "1111", "OTHER")],
        "gene_rgd_id long, gene_id string, symbol string",
    ).write.parquet(str(root / "genes.parquet"))
    return root


def test_cli_load_writes_snapshot(spark, cli_dirs):
    main(
        [
            "--load",
            "--xml", str(cli_dirs / "release.xml"),
            "--genes", str(cli_dirs / "genes.parquet"),
            "--out", str(cli_dirs / "snap1"),
        ]
    )
    variants = spark.read.parquet(str(cli_dirs / "snap1" / "variants"))
    assert variants.count() == 2
    counters = spark.read.parquet(str(cli_dirs / "snap1" / "counters"))
    c = {r["counter"]: r["value"] for r in counters.collect()}
    assert c["VARIANTS_INSERT"] == 2
    assert c["NON_CURRENT_RECORD"] == 1


def test_cli_add_rs_ids_and_vcf(spark, cli_dirs):
    snap1 = cli_dirs / "snap1"
    assert (snap1 / "variants").exists()
    # dbSNP row matching the FULL_RECORD variant's GRCh38 position
    mp = spark.read.parquet(str(snap1 / "map_positions")).filter(
        F.col("map_key") == 38
    )
    row = mp.first()
    v = spark.read.parquet(str(snap1 / "variants")).filter(
        F.col("rgd_id") == row["rgd_id"]
    ).first()
    spark.createDataFrame(
        [(row["chromosome"], row["start_pos"], v["ref_nuc"], v["var_nuc"], "rs777")],
        "chromosome string, position int, ref_allele string,"
        " allele string, snp_name string",
    ).write.parquet(str(cli_dirs / "db_snp.parquet"))

    main(
        [
            "--addRsIds",
            "--snapshot", str(snap1),
            "--dbsnp", str(cli_dirs / "db_snp.parquet"),
            "--out", str(cli_dirs / "snap2"),
        ]
    )
    v2 = spark.read.parquet(str(cli_dirs / "snap2" / "variants"))
    assert v2.filter(F.col("rs_id") == "rs777").count() == 1

    main(
        [
            "--clinvar2vcf",
            "--snapshot", str(cli_dirs / "snap2"),
            "--out", str(cli_dirs / "out.vcf"),
        ]
    )
    with open(cli_dirs / "out.vcf") as fh:
        content = fh.read().splitlines()
    assert content[0] == "##fileformat=VCFv4.2"
    assert any(line.startswith("#CHROM") for line in content)
    # the fixture's delins variant is multi-base on both alleles -> F17
    # guard drops its line; only headers remain (the rs777 write-back
    # itself is asserted on the snapshot above)
    assert all(line.startswith("#") for line in content)


def test_cli_add_rs_ids_default_xdb_path(spark, cli_dirs):
    # Without --dbsnp the CLI mirrors VariantRsId.run: rs ids come from
    # the snapshot's own xdb_ids (key 48, link_text 'rs...'). The
    # fixture's FULL_RECORD carries <XRef DB="dbSNP" ID="397704705"
    # Type="rs"> which the loader stored as link_text 'rs397704705'.
    snap1 = cli_dirs / "snap1"
    assert (snap1 / "variants").exists()
    main(
        [
            "--addRsIds",
            "--snapshot", str(snap1),
            "--out", str(cli_dirs / "snap2x"),
        ]
    )
    v2 = spark.read.parquet(str(cli_dirs / "snap2x" / "variants"))
    assert v2.filter(F.col("rs_id") == "rs397704705").count() == 1
    # one row per input variant — no fanout from the candidate join
    assert v2.count() == spark.read.parquet(str(snap1 / "variants")).count()


def test_cli_chained_load_annotate_golden_counters(spark, cli_dirs):
    """The reference's own validation mechanism is the end-of-run
    counter dump (GlobalCounters.java:23-29; changes.txt:396-405 pins
    run stats): chain --load -> --annotate through the CLI on one
    release and assert the COMPLETE counter frames of both stages
    against golden values — not just spot keys.

    The release is the fixture with FULL_RECORD's Indel retyped to
    Deletion (carpe-compliant, F14) and a single-gene dim, so the
    annotate stage produces the full ladder: variant D annotation,
    gene IAGP, rat-homolog ISO.

    The third record is an SNV clone of FULL_RECORD (single-base
    G>T at a distinct GRCh38 position, dbSNP xref rs555) so the chain
    can continue past annotate: --addRsIds (xdb-sourced, the
    VariantRsId default) then --clinvar2vcf, asserting the EXACT vcf
    file text — the full load_and_annotate.sh + export parity loop
    (Manager.java:45-68) under one golden test."""
    # single nucleotide variant record: new ids, single-base alleles
    # on BOTH SequenceLocations (ref/alt-VCF picks are last-wins),
    # distinct position, its own alias + dbSNP rs
    snv_record = (
        FULL_RECORD.replace("VCV000000011", "VCV000000777")
        .replace('VariationID="11"', 'VariationID="777"')
        .replace('AlleleID="26042"', 'AlleleID="26777"')
        .replace(
            "NM_014855.3(AP5Z1):c.80_83delinsTGCTGTAAACTGTAACTGTAAA",
            "NM_014855.3(AP5Z1):c.100G&gt;T",
        )
        .replace(
            "<VariantType>Indel</VariantType>",
            "<VariantType>single nucleotide variant</VariantType>",
        )
        .replace(
            "<OtherNameList><Name>AP5Z1, 4-BP DEL/22-BP INS</Name><Name>second-alt</Name></OtherNameList>",
            "<OtherNameList><Name>third-alt</Name></OtherNameList>",
        )
        .replace(
            'start="4775623" stop="4775648" referenceAlleleVCF="GGAT" alternateAlleleVCF="TGCTGTAAACTGTAACTGTAAA"',
            'start="4775700" stop="4775700" referenceAlleleVCF="G" alternateAlleleVCF="T"',
        )
        .replace(
            'referenceAlleleVCF="GGAT2" alternateAlleleVCF="ALT2"',
            'referenceAlleleVCF="G" alternateAlleleVCF="T"',
        )
        .replace(
            '<XRef DB="dbSNP" ID="397704705" Type="rs"/>',
            '<XRef DB="dbSNP" ID="555" Type="rs"/>',
        )
    )
    root = cli_dirs / "chain"
    xml = root / "release.xml"
    root.mkdir()
    xml.write_text(
        HEADER
        + FULL_RECORD.replace(
            "<VariantType>Indel</VariantType>",
            "<VariantType>Deletion</VariantType>",
        )
        + snv_record
        + MINUS_RECORD
        + TRAILER,
        "utf-8",
    )
    # only AP5Z1: the gene/homolog annotations require exactly one
    # associated gene (J13 single-gene rule)
    spark.createDataFrame(
        [(101, "9907", "AP5Z1")],
        "gene_rgd_id long, gene_id string, symbol string",
    ).write.parquet(str(root / "genes.parquet"))

    main(
        [
            "--load",
            "--xml", str(xml),
            "--genes", str(root / "genes.parquet"),
            "--out", str(root / "snap"),
        ]
    )
    load_counters = {
        r["counter"]: r["value"]
        for r in spark.read.parquet(str(root / "snap" / "counters")).collect()
    }
    assert load_counters == {
        "RECORDS_SIMPLE": 3,
        "NON_CURRENT_RECORD": 1,
        "NON_HUMAN_SPECIES": 1,
        "CLINVAR_ENTRY_CONDITION_NOT_PROVIDED": 1,
        "CLINVAR_ENTRY_OTHER": 2,
        "VARIANTS_INSERT": 3,
        # the SNV clone carries FULL_RECORD's entire xref/citation set
        # (12 rows), both assembly placements, both HGVS, one valid alias
        "XDB_IDS_INSERT": 24,
        "GENE_ASSOCIATIONS_INSERT": 2,
        "MAP_POSITIONS_INSERT": 4,
        "HGVS_NAMES_INSERT": 4,
        "ALIASES_INSERT": 2,
    }, load_counters

    # aux tables keyed to the release: the condition matches an RDO
    # term; the gene has a rat ortholog (species key 3)
    aux = root / "aux"
    spark.createDataFrame(
        [(101, 501, 3)],
        "gene_rgd_id long, homolog_rgd_id long, homolog_species_type_key int",
    ).write.parquet(str(aux / "orthologs.parquet"))
    spark.createDataFrame(
        [("RDO:0001", "RDO", "Hereditary spastic paraplegia 48", False)],
        "acc_id string, ontology_id string, term string, is_obsolete boolean",
    ).write.parquet(str(aux / "ont_terms.parquet"))
    spark.createDataFrame(
        [], "term_acc string, name string, type string"
    ).write.parquet(str(aux / "ont_synonyms.parquet"))
    spark.createDataFrame(
        [], "cui string, gene_rgd_id long, omim_id string"
    ).write.parquet(str(aux / "concept_omim.parquet"))
    spark.createDataFrame(
        [],
        "annotated_object_rgd_id long, term_acc string, aspect string,"
        " evidence string, with_info string, xref_source string, notes string",
    ).write.parquet(str(aux / "existing_annotations.parquet"))

    main(
        [
            "--annotate",
            "--snapshot", str(root / "snap"),
            "--aux", str(aux),
            "--out", str(root / "annots"),
        ]
    )
    annot_counters = {
        r["counter"]: r["value"]
        for r in spark.read.parquet(str(root / "annots" / "counters")).collect()
    }
    # both carpe-compliant variants annotate; the gene IAGP and
    # homolog ISO rows MERGE across the two variants (A1/A2), so the
    # ladder is 2 variant rows + 1 gene + 1 homolog
    assert annot_counters == {"ANNOTATIONS_INSERT": 4}, annot_counters
    ann = spark.read.parquet(str(root / "annots" / "annotations"))
    rows = sorted(
        (r["annotated_object_rgd_id"], r["term_acc"], r["aspect"], r["evidence"])
        for r in ann.collect()
    )
    # dense-by-symbol id assignment: the two AP5Z1 variants get rgd_ids
    # 1 and 2, CV55 (no gene, no condition) gets 3 and does not
    # annotate. Ladder: both variants, their shared gene (IAGP, one
    # merged row), the gene's rat homolog (ISO).
    assert rows == [
        (1, "RDO:0001", "D", "IAGP"),
        (2, "RDO:0001", "D", "IAGP"),
        (101, "RDO:0001", "D", "IAGP"),
        (501, "RDO:0001", "D", "ISO"),
    ], rows

    # ---- chain stages 3+4: --addRsIds then --clinvar2vcf ----
    # rs ids come from the snapshot's own dbSNP xrefs (xdb key 48):
    # the deletion carries rs397704705, the SNV rs555
    main(
        [
            "--addRsIds",
            "--snapshot", str(root / "snap"),
            "--out", str(root / "snap_rs"),
        ]
    )
    main(
        [
            "--clinvar2vcf",
            "--snapshot", str(root / "snap_rs"),
            "--out", str(root / "out.vcf"),
        ]
    )
    # Exact file text: fixed header, then the ONE surviving data line.
    # The deletion's merged line (ref GGAT2/alt ALT2, both multi-char)
    # is removed by the F17 guard; the SNV renders at its GRCh38
    # placement with the xdb-sourced rs id.
    assert (root / "out.vcf").read_text("utf-8") == (
        "##fileformat=VCFv4.2\n"
        '##INFO=<ID=RGD,Number=1,Type=String,Description="RGD variant rgd id">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "7\t4775700\trs555\tG\tT\t.\t.\t.\n"
    )


def test_cli_qc_duplicate_terms(spark, cli_dirs):
    spark.createDataFrame(
        [
            (10, "heart disease", 5, 1, 1),
            (21, "disease heart", 3, 0, 1),  # same normalized key, separate branch
            (11, "unique condition", 2, 0, 1),
        ],
        "acc long, name string, annot_count long, child_count long,"
        " parent_count long",
    ).write.parquet(str(cli_dirs / "ont" / "terms.parquet"))
    spark.createDataFrame(
        [(10, 5), (21, 10)], "acc long, anc long"
    ).write.parquet(str(cli_dirs / "ont" / "ancestors.parquet"))

    main(
        [
            "--qcDuplicateTerms",
            "--ont", str(cli_dirs / "ont"),
            "--out", str(cli_dirs / "qc"),
        ]
    )
    groups = spark.read.parquet(str(cli_dirs / "qc" / "duplicate_groups"))
    assert groups.count() == 1
    survivors = spark.read.parquet(str(cli_dirs / "qc" / "surviving_terms"))
    # 21 is a strict descendant of 10 with lower rank -> only one survives
    accs = {r["acc"] for r in survivors.collect()}
    assert accs == {10}


def test_cli_annotate(spark, cli_dirs):
    snap = cli_dirs / "asnap"
    aux = cli_dirs / "aux"
    spark.createDataFrame(
        [(2, "CV2", "v2", "insertion", "likely pathogenic", "LabB",
          "Noonan syndrome [RCV2]")],
        "rgd_id long, symbol string, name string, object_type string,"
        " clinical_significance string, submitter string, trait_name string",
    ).write.parquet(str(snap / "variants"))
    spark.createDataFrame(
        [(2, 2, "333")], "rgd_id long, xdb_key int, acc_id string"
    ).write.parquet(str(snap / "xdb_ids"))
    spark.createDataFrame(
        [(2, 102)], "variant_rgd_id long, gene_rgd_id long"
    ).write.parquet(str(snap / "gene_associations"))
    spark.createDataFrame(
        [], "rgd_id long, map_key int, chromosome string, start_pos int,"
        " stop_pos int, fish_band string, notes string"
    ).write.parquet(str(snap / "map_positions"))
    spark.createDataFrame([], "rgd_id long, type string, name string").write.parquet(
        str(snap / "hgvs_names")
    )
    spark.createDataFrame(
        [], "rgd_id long, value string, notes string"
    ).write.parquet(str(snap / "aliases"))

    spark.createDataFrame(
        [(102, 202, 1)],
        "gene_rgd_id long, homolog_rgd_id long, homolog_species_type_key int",
    ).write.parquet(str(aux / "orthologs.parquet"))
    spark.createDataFrame(
        [("RDO:2", "RDO", "Noonan syndrome", False)],
        "acc_id string, ontology_id string, term string, is_obsolete boolean",
    ).write.parquet(str(aux / "ont_terms.parquet"))
    spark.createDataFrame(
        [], "term_acc string, name string, type string"
    ).write.parquet(str(aux / "ont_synonyms.parquet"))
    spark.createDataFrame(
        [], "cui string, gene_rgd_id long, omim_id string"
    ).write.parquet(str(aux / "concept_omim.parquet"))
    spark.createDataFrame(
        [],
        "annotated_object_rgd_id long, term_acc string, aspect string,"
        " evidence string, with_info string, xref_source string, notes string",
    ).write.parquet(str(aux / "existing_annotations.parquet"))

    main(
        [
            "--annotate",
            "--snapshot", str(snap),
            "--aux", str(aux),
            "--out", str(cli_dirs / "annots"),
        ]
    )
    ann = spark.read.parquet(str(cli_dirs / "annots" / "annotations"))
    objs = {r["annotated_object_rgd_id"] for r in ann.collect()}
    # variant itself, its single gene, and the rat homolog (ISO)
    assert {2, 102, 202} <= objs


def test_cli_corpus_prep(spark, tmp_path):
    from tests.test_caching import memo_entries

    sf = tmp_path / "sf"  # fresh files: no memo entry from an earlier test
    shutil.copytree("/root/testdata/sf0.001", sf)
    before = memo_entries(spark)
    main(["--corpusPrep", "--sf", str(sf), "--out", str(tmp_path / "prep")])
    # the landed IVF index reuses the semantic_dedup stage's corpus
    # count and quantizer: one of each per run
    added = memo_entries(spark) - before
    assert added["corpus_count"] == 1
    assert added["ivf_centroids_q6"] == 1
    from clinvar_pipeline_spark.cli import CORPUS_PREP_STAGES

    counters = {
        r["stage"]: r["n_rows"]
        for r in spark.read.parquet(str(tmp_path / "prep" / "run_counters")).collect()
    }
    # every stage landed, counted, and matches its parquet output
    for stage in CORPUS_PREP_STAGES + [
        "pii_scrub",
        "semantic_dedup",
        "class_centroid_outliers",
        "knn_label_noise",
        "hard_negatives",
    ]:
        assert counters[stage] == spark.read.parquet(
            str(tmp_path / "prep" / stage)
        ).count()
    assert counters["text_profile"] > 0
    assert counters["sequence_packing"] > 0
    # raw-corpus scrub: the generated text has no PII -> zero counts,
    # scrubbed text identical
    scrub = spark.read.parquet(str(tmp_path / "prep" / "pii_scrub"))
    assert scrub.agg(F.sum("n_email"), F.sum("n_ip")).first() == (0, 0)
    # the trained quantizer landed as a servable build artifact
    from clinvar_pipeline_spark.operators.similarity import load_centroids

    C = load_centroids(spark, str(tmp_path / "prep" / "ivf_index"))
    assert counters["ivf_index"] == len(C)
    assert C.shape[1] > 0
    # ...and the PQ codebooks next to it (r7: the FULL IndexIVFPQ
    # state round-trips, not just the coarse quantizer)
    from clinvar_pipeline_spark.operators.similarity import (
        load_pq_codebooks,
    )

    B = load_pq_codebooks(spark, str(tmp_path / "prep" / "pq_index"))
    assert counters["pq_index"] == B.shape[0] * B.shape[1]
    # cross-session serve: the in-session IVF-PQ search and a search
    # served purely from the landed artifacts (codebooks= and
    # centroids=, so nothing is trained) must return identical rows
    from clinvar_pipeline_spark.caching import release_cached
    from clinvar_pipeline_spark.operators.similarity import ann_topk_pq
    from clinvar_pipeline_spark.queries import queries as _reg

    in_session = {
        tuple(r) for r in _reg()["ann_topk_ivfpq"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    release_cached()
    from clinvar_pipeline_spark.queries_domain import _spread, _t

    emb = _spread(_t(spark, "/root/testdata/sf0.001", "embeddings"), parts=8)
    # a loaded float book re-quantizes exactly (floor(b*1e6+0.5)
    # recovers the Q6 ints), so artifact-served rows are bit-identical
    # to in-session rows
    served = {
        tuple(r) for r in ann_topk_pq(
            emb, emb, k=5, ivf=True,
            codebooks=load_pq_codebooks(
                spark, str(tmp_path / "prep" / "pq_index")
            ),
            centroids=C,
        ).collect()
    }
    assert served == in_session and len(served) > 0
    release_cached()


def test_cli_corpus_prep_stream_equals_batch_stages(spark, tmp_path):
    """--corpusPrep --stream (availableNow) must land the stateless
    stages (pii_scrub, repetition_gates, decontaminate) as parquet
    identical to the batch chain's stages on the same input."""
    main(
        [
            "--corpusPrep", "--stream",
            "--sf", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "sprep"),
        ]
    )
    main(
        [
            "--corpusPrep",
            "--sf", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "bprep"),
        ]
    )

    def rows(root, name):
        df = spark.read.parquet(str(tmp_path / root / name))
        return sorted(
            tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
        )

    for stage in (
        "pii_scrub",
        "repetition_gates",
        "quality_classifier",
        "langid",
        "dsir_weights",
        "decontaminate",
    ):
        assert rows("sprep", stage) == rows("bprep", stage), stage
    counters = {
        r["stage"]: r["n_rows"]
        for r in spark.read.parquet(
            str(tmp_path / "sprep" / "run_counters")
        ).collect()
    }
    assert set(counters) == {
        "pii_scrub",
        "repetition_gates",
        "quality_classifier",
        "langid",
        "media_features",
        "decontaminate",
        "neardup_flags",
        "hll_distinct",
        "cm_sketch",
        "dsir_weights",
        "zipf_fit",
        "source_divergence",
        "cluster_labels",
    }
    # the incrementally maintained cluster labels (r9): this drain saw
    # the whole corpus as one batch, so the labeling must equal the
    # batch registry query's (node -> min-id component) exactly
    from clinvar_pipeline_spark.queries_llm import _cc_over_ngram_pairs
    from clinvar_pipeline_spark.streaming.clusters import (
        cluster_labels_snapshot,
    )

    got = {
        r["node"]: r["component"]
        for r in cluster_labels_snapshot(
            spark, str(tmp_path / "sprep" / "_cluster_state")
        ).collect()
    }
    want = {
        r["node"]: r["component"]
        for r in _cc_over_ngram_pairs(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want
    # the landed corpus-health reports equal their batch registry
    # queries on the same corpus (ADD-merged token-count sink)
    from clinvar_pipeline_spark.queries import queries as _qreg0

    for rep in ("zipf_fit", "source_divergence"):
        got_rep = rows("sprep", rep)
        df = _qreg0()[rep](spark, "/root/testdata/sf0.001")
        want_rep = sorted(
            tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
        )
        assert got_rep == want_rep, rep
    # the streamed CM snapshot equals the batch sketch cell-for-cell
    # (the counters-are-linear epoch-delta sum)
    from clinvar_pipeline_spark.queries_curation import cm_sketch_frame

    snap = {
        (r["j"], r["b"]): r["c"]
        for r in spark.read.parquet(
            str(tmp_path / "sprep" / "cm_sketch")
        ).collect()
    }
    batch_sk = {
        (r["j"], r["b"]): r["c"]
        for r in cm_sketch_frame(
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        ).collect()
    }
    assert snap == batch_sk
    # the incremental flagger landed a verdict for every document
    # (self-matches excluded via the index's (n_docs, min_doc) — a
    # whole-corpus-at-once drop scores each doc vs the REST)
    nf = spark.read.parquet(str(tmp_path / "sprep" / "neardup_flags"))
    assert counters["neardup_flags"] == nf.count() > 0
    # the streamed HLL snapshot equals the batch query on the corpus
    from clinvar_pipeline_spark.queries import queries as _qreg

    hs = spark.read.parquet(str(tmp_path / "sprep" / "hll_distinct"))
    got = sorted(map(tuple, hs.collect()))
    want = sorted(map(tuple, _qreg()["hll_distinct"](
        spark, "/root/testdata/sf0.001").collect()))
    assert got == want
    assert counters["pii_scrub"] == spark.read.parquet(
        str(tmp_path / "sprep" / "pii_scrub")
    ).count()


def test_cli_corpus_prep_stream_jsonl(spark, tmp_path):
    """--corpusPrep --stream --jsonl: the stateless stages stream
    straight off a JSONL drop (corrupt lines dropped map-side) and
    match the batch scrub over the same good rows."""
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "mail a@b.co now", "lang": "en",'
        ' "source": "s"}\n'
        '{"doc_id": 2, "text": "one two three four five six seven eight'
        ' nine ten eleven twelve", "lang": "en", "source": "s"}\n'
        "corrupt {\n",
        "utf-8",
    )
    main(
        [
            "--corpusPrep", "--stream",
            "--jsonl", str(p),
            "--sf", str(tmp_path),
            "--out", str(tmp_path / "sprep"),
        ]
    )
    scrub = {
        r["doc_id"]: r
        for r in spark.read.parquet(
            str(tmp_path / "sprep" / "pii_scrub")
        ).collect()
    }
    assert set(scrub) == {1, 2}  # corrupt line dropped
    assert scrub[1]["n_email"] == 1
    assert "<EMAIL>" in scrub[1]["text_scrubbed"]
    gates = {
        r["doc_id"]: r["gate_pass"]
        for r in spark.read.parquet(
            str(tmp_path / "sprep" / "repetition_gates")
        ).collect()
    }
    assert gates[2] == 1


def test_cli_corpus_prep_catches_planted_issues(spark, tmp_path):
    """Story test: one corpus with a planted near-dup pair, an eval
    copy (contamination), a PII-bearing doc, a repetitive doc, and an
    identical embedding pair — every corpusPrep report must catch its
    plant."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        # doc 0: eval member (0 % 97 == 0)
        (0, base, "en", "s", 60),
        # doc 50: verbatim copy of the eval doc -> contaminated
        (50, base, "en", "s", 60),
        # docs 20/21: near-identical -> minhash pair
        (20, base + " kilo lima mike november", "en", "s", 80),
        (21, base + " kilo lima mike oscar", "en", "s", 78),
        # doc 30: PII in the raw text
        (30, "reach me at jane.doe@corp.example or 192.168.0.7 thanks",
         "fr", "s", 55),
        # doc 40: repetitive -> gate fails
        (40, "spam spam spam spam spam spam spam spam one two", "de",
         "s", 47),
        # filler so strata are non-trivial
        (60, "papa quebec romeo sierra tango uniform victor whiskey",
         "en", "s", 52),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [1.0, 0.0, 0.0, 0.0], 0),  # identical twin of 1
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.0, 0.0, 1.0, 0.0], 2),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    main(
        [
            "--corpusPrep",
            "--sf", str(tmp_path),
            "--out", str(tmp_path / "prep"),
        ]
    )

    def rd(name):
        return spark.read.parquet(str(tmp_path / "prep" / name))

    pairs = {
        (r["id_a"], r["id_b"]) for r in rd("minhash_lsh_pairs").collect()
    }
    assert (20, 21) in pairs
    contaminated = {r["doc_id"] for r in rd("decontaminate").collect()}
    assert 50 in contaminated
    scrub = {r["doc_id"]: r for r in rd("pii_scrub").collect()}
    assert scrub[30]["n_email"] == 1 and scrub[30]["n_ip"] == 1
    assert "<EMAIL>" in scrub[30]["text_scrubbed"]
    assert scrub[60]["n_email"] == 0
    gates = {r["doc_id"]: r["gate_pass"] for r in rd("repetition_gates").collect()}
    assert gates[40] == 0 and gates[60] == 1
    dropped = {r["vec_id"]: r["kept_by"] for r in rd("semantic_dedup").collect()}
    assert dropped == {2: 1}  # the identical twin collapses, others survive


def test_cli_corpus_prep_jsonl_ingest(spark, tmp_path):
    # embeddings live in the ORIGINAL --sf dir; --jsonl must not hide
    # them from the SemDeDup stage
    spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha beta gamma delta", "lang": "en",'
        ' "source": "s"}\n'
        '{"doc_id": 2, "text": "epsilon zeta eta theta", "lang": "fr",'
        ' "source": "s"}\n'
        "not json\n",
        "utf-8",
    )
    main(
        [
            "--corpusPrep",
            "--jsonl", str(p),
            "--sf", str(tmp_path),  # no documents.parquet here: jsonl wins
            "--out", str(tmp_path / "prep"),
        ]
    )
    ingest = {
        r["counter"]: r["value"]
        for r in spark.read.parquet(
            str(tmp_path / "prep" / "ingest_counters")
        ).collect()
    }
    assert ingest == {"DOCS_GOOD": 2, "DOCS_CORRUPT": 1}
    profile = spark.read.parquet(str(tmp_path / "prep" / "text_profile"))
    assert profile.count() == 2
    # embeddings in the original --sf dir still reach SemDeDup
    counters = {
        r["stage"]
        for r in spark.read.parquet(
            str(tmp_path / "prep" / "run_counters")
        ).collect()
    }
    assert "semantic_dedup" in counters
    dropped = spark.read.parquet(
        str(tmp_path / "prep" / "semantic_dedup")
    ).collect()
    assert {(r["vec_id"], r["kept_by"]) for r in dropped} == {(2, 1)}


def test_cli_corpus_prep_stream_model_frozen_across_reruns(spark, tmp_path):
    """Incremental rerun: new document drops are scored under the
    model FROZEN at the first run (_quality_model artifact), not a
    model retrained on the grown corpus — keep decisions must not
    depend on arrival order."""
    from clinvar_pipeline_spark.streaming.corpus import (
        DOCUMENT_SCHEMA,
        load_quality_model,
        quality_stream,
    )

    d = tmp_path / "grow"
    rows_a = [
        (0, "good prose good prose", "en", "s", 20),
        (7, "good prose prose", "en", "s", 16),
        (1, "spam junk spam junk", "en", "s", 19),
        (8, "spam junk junk", "en", "s", 14),
        (2, "good prose good", "en", "s", 15),
    ]
    spark.createDataFrame(rows_a, DOCUMENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(d / "documents.parquet"))
    out = tmp_path / "sprep"
    argv = [
        "--corpusPrep", "--stream",
        "--sf", str(d),
        "--out", str(out),
    ]
    main(argv)
    w1, wu1 = load_quality_model(spark, str(out / "_quality_model"))

    # drop B: new positive-slice doc with NEW vocabulary — a retrain
    # would change the model; the frozen artifact must not move
    rows_b = [
        (14, "fresh tokens fresh tokens", "en", "s", 25),
        (3, "good prose junk", "en", "s", 15),
    ]
    spark.createDataFrame(rows_b, DOCUMENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(d / "documents.parquet"))
    main(argv)
    w2, wu2 = load_quality_model(spark, str(out / "_quality_model"))
    assert (w2, wu2) == (w1, wu1)  # artifact untouched by the rerun
    assert "fresh" not in w2
    # the decontamination eval set is frozen the same way (no doc in
    # this fixture has id % 97 == 0 except doc 0 -> its shingles)
    from clinvar_pipeline_spark.streaming.corpus import load_eval_hashes

    ev1 = load_eval_hashes(spark, str(out / "_eval_shingles"))
    assert ev1 is not None

    # the rerun scored exactly the new docs, under the frozen model
    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(
            str(out / "quality_classifier")
        ).collect()
    }
    assert set(got) == {0, 7, 1, 8, 2, 14, 3}
    want = {
        r["doc_id"]: r
        for r in quality_stream(
            spark.createDataFrame(rows_b, DOCUMENT_SCHEMA), w1, wu1
        ).collect()
    }
    for i in (14, 3):
        assert tuple(got[i]) == tuple(want[i])


def test_cli_event_stream_equals_batch_temporal_queries(spark, tmp_path):
    """--eventStream: the streamed attribution and funnel outputs on
    a static drop must equal the batch registry queries row-for-row,
    and a rerun against the unchanged drop must leave outputs
    unchanged (frozen-history artifacts + checkpoints: nothing new
    to drain, no retrain)."""
    from clinvar_pipeline_spark.queries_temporal import (
        q_asof_attribution,
        q_event_funnel,
    )
    from clinvar_pipeline_spark.queries_timeseries import q_ohlc_resample
    from clinvar_pipeline_spark.streaming.temporal import asof_snapshot

    sf = "/root/testdata/sf0.001"
    out = tmp_path / "estream"
    main(["--eventStream", "--sf", sf, "--out", str(out)])

    def attr_rows():
        return {
            r["event_id"]: (r["view_event_id"], r["ts_asof"])
            for r in asof_snapshot(spark, str(out / "attribution")).collect()
        }

    def funnel_rows():
        df = spark.read.parquet(str(out / "funnel"))
        return {
            r["user_id"]: (
                r["view_ts"], r["click_ts"], r["purchase_ts"],
                r["funnel_stage"],
            )
            for r in df.collect()
        }

    got_attr, got_funnel = attr_rows(), funnel_rows()
    exp_attr = {
        r["event_id"]: (r["view_event_id"], r["ts_asof"])
        for r in q_asof_attribution(spark, sf).collect()
    }
    exp_funnel = {
        r["user_id"]: (
            r["view_ts"], r["click_ts"], r["purchase_ts"],
            r["funnel_stage"],
        )
        for r in q_event_funnel(spark, sf).collect()
    }
    def ohlc_rows():
        df = spark.read.parquet(str(out / "ohlc"))
        return {
            (r["user_id"], r["h"]): (
                r["open"], r["high"], r["low"], r["close"],
                r["n_trades"], r["volume"],
            )
            for r in df.collect()
        }

    got_ohlc = ohlc_rows()
    exp_ohlc = {
        (r["user_id"], r["h"]): (
            r["open"], r["high"], r["low"], r["close"],
            r["n_trades"], r["volume"],
        )
        for r in q_ohlc_resample(spark, sf).collect()
    }
    def pair_rows():
        return {
            (r["user_id"], r["from_id"], r["to_id"])
            for r in spark.read.parquet(
                str(out / "transition_pairs")
            ).collect()
        }

    # live pairs: equal to the batch lead() pairs whose completing
    # event the final watermark passed (the per-user tail pends)
    from pyspark.sql import Window as _W
    from clinvar_pipeline_spark.queries import _t as _tt

    ev = _tt(spark, sf, "events")
    max_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    wm_us = (max_us // 1000 - 10_000) * 1000
    seq = _W.partitionBy("user_id").orderBy("ts", "event_id")
    exp_pairs = {
        (r["user_id"], r["from_id"], r["to_id"])
        for r in ev.select(
            "user_id",
            F.col("event_id").alias("from_id"),
            F.lead("event_id").over(seq).alias("to_id"),
            F.lead(F.unix_micros("ts")).over(seq).alias("to_us"),
        )
        .filter(F.col("to_id").isNotNull() & (F.col("to_us") <= wm_us))
        .collect()
    }
    def tri_rows():
        return {
            (r["user_id"], r["id_1"], r["id_2"], r["id_3"])
            for r in spark.read.parquet(
                str(out / "trigram_windows")
            ).collect()
        }

    exp_tri = {
        (r["user_id"], r["i1"], r["i2"], r["i3"])
        for r in ev.select(
            "user_id",
            F.col("event_id").alias("i1"),
            F.lead("event_id").over(seq).alias("i2"),
            F.lead("event_id", 2).over(seq).alias("i3"),
            F.lead(F.unix_micros("ts"), 2).over(seq).alias("end_us"),
        )
        .filter(F.col("i3").isNotNull() & (F.col("end_us") <= wm_us))
        .collect()
    }

    def anom_rows():
        return {
            r["event_id"]: (r["n_base"], r["zscore"], r["is_anomaly"])
            for r in spark.read.parquet(str(out / "anomalies")).collect()
        }

    from clinvar_pipeline_spark.queries_timeseries import (
        q_rolling_anomalies,
    )

    exp_anom = {
        r["event_id"]: (r["n_base"], r["zscore"], r["is_anomaly"])
        for r in q_rolling_anomalies(spark, sf)
        .filter(F.unix_micros("ts") <= wm_us)
        .collect()
    }
    def au_rows():
        return {
            r["day"]: (r["dau"], r["wau"], r["mau"])
            for r in spark.read.parquet(
                str(out / "active_users")
            ).collect()
        }

    from clinvar_pipeline_spark.queries_timeseries import q_active_users

    exp_au = {
        r["day"]: (r["dau"], r["wau"], r["mau"])
        for r in q_active_users(spark, sf).collect()
    }
    got_au = au_rows()
    got_anom = anom_rows()
    got_pairs = pair_rows()
    assert got_au == exp_au
    assert got_anom == exp_anom
    assert got_attr == exp_attr
    assert got_funnel == exp_funnel
    assert got_ohlc == exp_ohlc
    assert got_pairs == exp_pairs
    # the aggregated matrix sums to the pair count
    mat = spark.read.parquet(str(out / "transitions"))
    assert mat.groupBy().sum("n").collect()[0][0] == len(got_pairs)
    # live trigrams: the n=3 tier of the same state machine — equal
    # to the batch double-lead windows the final watermark finalized
    got_tri = tri_rows()
    assert got_tri == exp_tri
    tmat = spark.read.parquet(str(out / "trigrams"))
    assert tmat.groupBy().sum("n").collect()[0][0] == len(got_tri)
    assert any(v[3] == 3 for v in got_funnel.values())

    # rerun: availableNow drains nothing new; frozen artifacts keep
    # the history identical — outputs must not move
    main(["--eventStream", "--sf", sf, "--out", str(out)])
    assert attr_rows() == exp_attr
    assert funnel_rows() == exp_funnel
    assert ohlc_rows() == exp_ohlc
    assert pair_rows() == exp_pairs
    assert tri_rows() == exp_tri
    assert anom_rows() == exp_anom
    assert au_rows() == exp_au


def test_cli_corpus_prep_warc_ingest(spark, tmp_path):
    """--warc: the Common Crawl front door — WARC archives stage to
    the documents shape (deterministic hash doc_ids, skipped record
    types + corrupt tails counted) and the full chain runs on them."""
    from clinvar_pipeline_spark.sources.warc import warc_encode

    spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    wdir = tmp_path / "crawl"
    wdir.mkdir()
    (wdir / "a.warc.gz").write_bytes(
        warc_encode(
            [
                {"type": "warcinfo", "record_id": "<urn:uuid:i>",
                 "body": b"software: t\r\n"},
                {"type": "response", "record_id": "<urn:uuid:r1>",
                 "url": "http://x.example/1",
                 "date": "2024-01-01T00:00:00Z",
                 "http": (200, "text/plain",
                          b"alpha beta gamma delta epsilon")},
                {"type": "response", "record_id": "<urn:uuid:r2>",
                 "url": "http://x.example/2",
                 "date": "2024-01-01T00:01:00Z",
                 "http": (200, "text/plain",
                          b"zeta eta theta iota kappa")},
            ]
        )
    )
    main(
        [
            "--corpusPrep",
            "--warc", str(wdir),
            "--sf", str(tmp_path),
            "--out", str(tmp_path / "prep"),
        ]
    )
    ingest = {
        r["counter"]: r["value"]
        for r in spark.read.parquet(
            str(tmp_path / "prep" / "ingest_counters")
        ).collect()
    }
    assert ingest == {
        "RECORDS_KEPT": 2, "RECORDS_SKIPPED": 1, "ARCHIVES_BAD_TAIL": 0,
    }
    docs = spark.read.parquet(
        str(tmp_path / "prep" / "_staged" / "documents.parquet")
    ).collect()
    assert len(docs) == 2 and len({r["doc_id"] for r in docs}) == 2
    assert {r["text"] for r in docs} == {
        "alpha beta gamma delta epsilon", "zeta eta theta iota kappa",
    }
    profile = spark.read.parquet(str(tmp_path / "prep" / "text_profile"))
    assert profile.count() == 2


def test_cli_event_report_lands_every_stage(spark, tmp_path):
    """--eventReport: every stage lands non-empty (where the suite
    guarantees rows at sf0.001) with counts matching the registry."""
    from clinvar_pipeline_spark.cli import EVENT_REPORT_QUERIES, main
    from clinvar_pipeline_spark.queries import queries as reg_fn

    sf = "/root/testdata/sf0.001"
    out = tmp_path / "ereport"
    main(["--eventReport", "--sf", sf, "--out", str(out)])

    reg = reg_fn()
    counters = {
        r["stage"]: r["n_rows"]
        for r in spark.read.parquet(str(out / "run_counters")).collect()
    }
    assert set(counters) == set(EVENT_REPORT_QUERIES)
    for name in EVENT_REPORT_QUERIES:
        landed = spark.read.parquet(str(out / name)).count()
        assert landed == counters[name]
        assert landed == reg[name](spark, sf).count(), name
        assert landed > 0, name


def test_cli_optimize_lands_layouts_and_report(spark, tmp_path):
    """--optimize: the Z-ordered, time-sorted and Hive-partitioned
    layouts land with the footer-derived skipping report, and the
    report shows the Z-order layout's per-file user span far below
    the time-sorted strawman's (the pruning evidence, as data)."""
    out = tmp_path / "opt"
    main(["--optimize", "--sf", "/root/testdata/sf0.001", "--out", str(out)])
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    z = spark.read.parquet(str(out / "events_zorder"))
    assert z.count() == ev.count()
    part = spark.read.parquet(str(out / "orders_part"))
    assert part.count() == spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).count()
    rep = {
        r["layout"]: r["avg"]
        for r in spark.read.parquet(str(out / "layout_report"))
        .groupBy("layout")
        .agg(F.avg("user_span").alias("avg"))
        .collect()
    }
    assert rep["zorder"] < 0.6 * rep["timesorted"]


def test_cli_warehouse_report_lands_every_stage(spark, tmp_path):
    from clinvar_pipeline_spark.cli import WAREHOUSE_REPORT_QUERIES

    out = tmp_path / "wh"
    main(
        ["--warehouseReport", "--sf", "/root/testdata/sf0.001",
         "--out", str(out)]
    )
    counters = {
        r["stage"]: r["n_rows"]
        for r in spark.read.parquet(str(out / "run_counters")).collect()
    }
    assert set(counters) == set(WAREHOUSE_REPORT_QUERIES)
    for name in WAREHOUSE_REPORT_QUERIES:
        assert counters[name] > 0
        assert spark.read.parquet(str(out / name)).count() == counters[name]


def test_cli_nightly_chain_equals_separate_modes(spark, cli_dirs):
    """--nightly (load_and_annotate.sh parity, r9): one invocation runs
    --load then --annotate on the fresh snapshot and lands a merged
    (phase, counter, value) frame. The contract: the merged frame
    equals the two modes' counter frames run separately, and the
    annotate outputs are identical row-for-row."""
    root = cli_dirs / "nightly"
    root.mkdir()
    xml = root / "release.xml"
    xml.write_text(
        HEADER
        + FULL_RECORD.replace(
            "<VariantType>Indel</VariantType>",
            "<VariantType>Deletion</VariantType>",
        )
        + MINUS_RECORD
        + TRAILER,
        "utf-8",
    )
    spark.createDataFrame(
        [(101, "9907", "AP5Z1")],
        "gene_rgd_id long, gene_id string, symbol string",
    ).write.parquet(str(root / "genes.parquet"))
    aux = root / "aux"
    spark.createDataFrame(
        [(101, 501, 3)],
        "gene_rgd_id long, homolog_rgd_id long, homolog_species_type_key int",
    ).write.parquet(str(aux / "orthologs.parquet"))
    spark.createDataFrame(
        [("RDO:0001", "RDO", "Hereditary spastic paraplegia 48", False)],
        "acc_id string, ontology_id string, term string, is_obsolete boolean",
    ).write.parquet(str(aux / "ont_terms.parquet"))
    spark.createDataFrame(
        [], "term_acc string, name string, type string"
    ).write.parquet(str(aux / "ont_synonyms.parquet"))
    spark.createDataFrame(
        [], "cui string, gene_rgd_id long, omim_id string"
    ).write.parquet(str(aux / "concept_omim.parquet"))
    spark.createDataFrame(
        [],
        "annotated_object_rgd_id long, term_acc string, aspect string,"
        " evidence string, with_info string, xref_source string, notes string",
    ).write.parquet(str(aux / "existing_annotations.parquet"))

    main(
        [
            "--nightly",
            "--xml", str(xml),
            "--genes", str(root / "genes.parquet"),
            "--aux", str(aux),
            "--out", str(root / "n"),
        ]
    )
    # separate runs of the two modes on the same inputs
    main(
        [
            "--load",
            "--xml", str(xml),
            "--genes", str(root / "genes.parquet"),
            "--out", str(root / "snap"),
        ]
    )
    main(
        [
            "--annotate",
            "--snapshot", str(root / "snap"),
            "--aux", str(aux),
            "--out", str(root / "annots"),
        ]
    )

    def counters(path):
        return {
            r["counter"]: r["value"]
            for r in spark.read.parquet(str(path)).collect()
        }

    merged = spark.read.parquet(str(root / "n" / "run_counters"))
    got = {
        (r["phase"], r["counter"]): r["value"] for r in merged.collect()
    }
    want = {
        ("load", k): v for k, v in counters(root / "snap" / "counters").items()
    } | {
        ("annotate", k): v
        for k, v in counters(root / "annots" / "counters").items()
    }
    assert got == want, (got, want)
    # annotate outputs identical row-for-row
    a1 = sorted(
        map(tuple, spark.read.parquet(str(root / "n" / "annotate" / "annotations")).collect())
    )
    a2 = sorted(
        map(tuple, spark.read.parquet(str(root / "annots" / "annotations")).collect())
    )
    assert a1 == a2 and len(a1) > 0
    # the nightly snapshot itself is --load's snapshot layout
    assert (
        spark.read.parquet(str(root / "n" / "variants")).count()
        == spark.read.parquet(str(root / "snap" / "variants")).count()
    )


def test_cli_nightly_with_rs_and_vcf_stages(spark, cli_dirs):
    """--nightly --with-rs-ids --with-vcf (r10): the full cron suite in
    one invocation. Each chained stage must equal its standalone mode
    run separately — the rs-updated snapshot row-for-row, the exported
    VCF byte-for-byte — and run_counters gains 'rs' and 'vcf' phases."""
    root = cli_dirs / "nightly_full"
    root.mkdir()
    xml = root / "release.xml"
    xml.write_text(HEADER + FULL_RECORD + MINUS_RECORD + TRAILER, "utf-8")
    spark.createDataFrame(
        [(101, "9907", "AP5Z1")],
        "gene_rgd_id long, gene_id string, symbol string",
    ).write.parquet(str(root / "genes.parquet"))
    aux = root / "aux"
    spark.createDataFrame(
        [(101, 501, 3)],
        "gene_rgd_id long, homolog_rgd_id long, homolog_species_type_key int",
    ).write.parquet(str(aux / "orthologs.parquet"))
    spark.createDataFrame(
        [("RDO:0001", "RDO", "Hereditary spastic paraplegia 48", False)],
        "acc_id string, ontology_id string, term string, is_obsolete boolean",
    ).write.parquet(str(aux / "ont_terms.parquet"))
    spark.createDataFrame(
        [], "term_acc string, name string, type string"
    ).write.parquet(str(aux / "ont_synonyms.parquet"))
    spark.createDataFrame(
        [], "cui string, gene_rgd_id long, omim_id string"
    ).write.parquet(str(aux / "concept_omim.parquet"))
    spark.createDataFrame(
        [],
        "annotated_object_rgd_id long, term_acc string, aspect string,"
        " evidence string, with_info string, xref_source string, notes string",
    ).write.parquet(str(aux / "existing_annotations.parquet"))

    main(
        [
            "--nightly", "--with-rs-ids", "--with-vcf",
            "--xml", str(xml),
            "--genes", str(root / "genes.parquet"),
            "--aux", str(aux),
            "--out", str(root / "n"),
        ]
    )
    # standalone equivalents on the nightly's own load snapshot
    main(
        [
            "--addRsIds",
            "--snapshot", str(root / "n"),
            "--out", str(root / "rs_sep"),
        ]
    )
    main(
        [
            "--clinvar2vcf",
            "--snapshot", str(root / "rs_sep"),
            "--out", str(root / "sep.vcf"),
        ]
    )
    chained = sorted(map(tuple, spark.read.parquet(
        str(root / "n" / "with_rs" / "variants")).collect()))
    separate = sorted(map(tuple, spark.read.parquet(
        str(root / "rs_sep" / "variants")).collect()))
    assert chained == separate and len(chained) > 0
    assert (root / "n" / "export.vcf").read_bytes() == (
        root / "sep.vcf").read_bytes()
    merged = {
        (r["phase"], r["counter"]): r["value"]
        for r in spark.read.parquet(str(root / "n" / "run_counters")).collect()
    }
    phases = {p for p, _ in merged}
    assert {"load", "rs"} <= phases
    # annotate/vcf slices equal their own counter frames — which are
    # EMPTY for this minimal fixture (no annotation matches, no VCF
    # drops); the pin is equality, not presence
    annot_c = {
        r["counter"]: r["value"] for r in spark.read.parquet(
            str(root / "n" / "annotate" / "counters")).collect()
    }
    assert {c: v for (p, c), v in merged.items() if p == "annotate"} == annot_c
    vcf_c = {
        r["counter"]: r["value"] for r in spark.read.parquet(
            str(root / "n" / "vcf_counters")).collect()
    }
    assert {c: v for (p, c), v in merged.items() if p == "vcf"} == vcf_c
    n_rs = spark.read.parquet(str(root / "rs_sep" / "variants")).filter(
        "rs_id IS NOT NULL").count()
    assert n_rs > 0
    assert merged[("rs", "VARIANTS_WITH_RS_ID")] == n_rs


def test_cli_dry_run_field_coverage_report(spark, tmp_path):
    """--dryRun (DryRun.java:20-141 parity, r10): stubbed parse of a
    golden fixture chunk -> populated-field coverage frame + parse-time
    counters, no snapshot written. Expectations hand-derived from the
    fixture records (VCV11 full, VCV500 minimal non-current mouse)."""
    from tests.test_vcv_xml import (
        GENOTYPE,
        HAPLOTYPE,
        MULTI_ALLELE,
    )

    unknown_db_record = """<VariationArchive Accession="VCV000000600" VariationID="600">
  <RecordStatus>current</RecordStatus><Species>Homo sapiens</Species>
  <ClassifiedRecord>
    <SimpleAllele AlleleID="66" VariationID="600"><Name>NM_2:c.1del</Name><VariantType>Deletion</VariantType>
      <XRefList><XRef DB="MadeUpDB" ID="777"/></XRefList>
    </SimpleAllele>
  </ClassifiedRecord>
</VariationArchive>
"""
    root = tmp_path / "dry"
    root.mkdir()
    xml = root / "chunk.xml"
    xml.write_text(
        HEADER + FULL_RECORD + MULTI_ALLELE + GENOTYPE + HAPLOTYPE
        + MINUS_RECORD + unknown_db_record + TRAILER,
        "utf-8",
    )
    main(["--dryRun", "--xml", str(xml), "--out", str(root / "rep")])
    cov = {
        r["field"]: (r["populated"], r["total"])
        for r in spark.read.parquet(str(root / "rep" / "coverage")).collect()
    }
    assert cov["name"] == (3, 3)
    assert cov["objectType"] == (3, 3)
    assert cov["soAccId"] == (3, 3)  # all derive from variant_type
    assert cov["refNuc"] == (1, 3) and cov["varNuc"] == (1, 3)
    assert cov["nucleotideChange"] == (0, 3)
    assert cov["molecularConsequence"] == (1, 3)
    assert cov["clinicalSignificance"] == (1, 3)
    assert cov["reviewStatus"] == (1, 3)
    assert cov["dateLastEvaluated"] == (1, 3)
    assert cov["methodType"] == (1, 3)
    assert cov["ageOfOnset"] == (0, 3) and cov["prevalence"] == (0, 3)
    assert cov["traitName"] == (1, 3)
    assert cov["submitter"] == (1, 3) and cov["notes"] == (1, 3)
    # the reference's xdb + map-position entries
    assert cov["xdb:clinVar"] == (1, 3)
    assert cov["mapPositions"] == (1, 3)
    assert any(f.startswith("xdbKey:") for f in cov)
    # populated-at-least-once SET (the literal DryRun observable) is
    # derivable: every populated>0 field
    populated_once = {f for f, (p, _) in cov.items() if p > 0}
    assert "nucleotideChange" not in populated_once
    assert {"name", "soAccId", "traitName"} <= populated_once
    counters = {
        r["counter"]: r["value"]
        for r in spark.read.parquet(str(root / "rep" / "counters")).collect()
    }
    assert counters["RECORDS_SIMPLE"] == 3
    assert counters["RECORDS_MULTI_ALLELE"] == 1
    # the unknown-xref-db canary (DryRun's 'unknown ...' stdout
    # markers, tallied as counter rows)
    assert counters["UNKNOWN_XREF_DB_MADEUPDB"] == 1
    assert counters["RECORDS_GENOTYPE"] == 1
    assert counters["RECORDS_HAPLOTYPE"] == 1
    assert counters["NON_CURRENT_RECORD"] == 1
    assert counters["NON_HUMAN_SPECIES"] == 1
    # dry run writes no snapshot
    assert not (root / "rep" / "variants").exists()
