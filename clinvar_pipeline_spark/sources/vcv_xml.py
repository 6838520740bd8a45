"""VCV XML source (S5/S2/S4): distributed extraction of ClinVar
VariationArchive records into the nested ``variant_archive`` schema
(FIXTURES.md §A2).

Reference behavior being re-expressed (no code ported):
- record framing on ``</VariationArchive>`` boundaries
  (ParseGroup.java:156-216) — here a ``lineSep`` text scan, so Spark's
  input-split parallelism replaces the hand-rolled 35 MB chunker;
- U+2212 minus fixup on every line (ParseGroup.java:218-229);
- per-record field extraction (Parser.java:61-473): simple-allele
  guard, first-RCV-wins, gene/location/hgvs/xref/assertion/trait
  harvesting with document-order semantics (first-wins O4, last-wins
  setters).

Design: the framing produces one XML string per record; ``from_xml``
(JVM-side, Catalyst-native in Spark 4) parses it against an explicit
schema — no Python in the loop. Arrays preserve document order, which
the golden tests pin (SURVEY.md §7.3 risk (a)).

The RefSeq xref extraction (F11, Parser.java:587-608) is disabled in
the reference (``if(true) return;``) and intentionally not extracted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# F1/F2 record classes, in the order extract_records tests for them; the
# last one is the fallback. The load's RECORDS_<KIND> counters enumerate
# this tuple, so no other module lists the kinds.
RECORD_KINDS = ("multi_allele", "simple", "genotype", "haplotype", "empty")

# ---------------------------------------------------------------------------
# Parse schema: the slice of the VariationArchive tree the pipeline reads.
# Attributes use the "_" prefix; mixed-content text lands in _VALUE.
# ---------------------------------------------------------------------------

def _attr(*names: str) -> list[T.StructField]:
    return [T.StructField(f"_{n}", T.StringType()) for n in names]


_EXPRESSION = T.StructType([T.StructField("Expression", T.StringType())])

_HGVS = T.StructType(
    _attr("Type")
    + [
        T.StructField("NucleotideExpression", _EXPRESSION),
        T.StructField("ProteinExpression", _EXPRESSION),
        T.StructField(
            "MolecularConsequence",
            T.ArrayType(T.StructType(_attr("Type", "ID"))),
        ),
    ]
)

_CITATION = T.StructType(
    [
        T.StructField(
            "ID",
            T.ArrayType(
                T.StructType(_attr("Source") + [T.StructField("_VALUE", T.StringType())])
            ),
        )
    ]
)

_SIMPLE_ALLELE = T.StructType(
    _attr("AlleleID", "VariationID")
    + [
        T.StructField("Name", T.StringType()),
        T.StructField("VariantType", T.StringType()),
        T.StructField(
            "OtherNameList",
            T.StructType([T.StructField("Name", T.ArrayType(T.StringType()))]),
        ),
        T.StructField(
            "GeneList",
            T.StructType(
                [
                    T.StructField(
                        "Gene",
                        T.ArrayType(T.StructType(_attr("Symbol", "GeneID", "HGNC_ID"))),
                    )
                ]
            ),
        ),
        T.StructField(
            "Location",
            T.StructType(
                [
                    T.StructField(
                        "CytogeneticLocation", T.ArrayType(T.StringType())
                    ),
                    T.StructField(
                        "SequenceLocation",
                        T.ArrayType(
                            T.StructType(
                                _attr(
                                    "Assembly",
                                    "Accession",
                                    "Chr",
                                    "start",
                                    "stop",
                                    "referenceAlleleVCF",
                                    "alternateAlleleVCF",
                                )
                            )
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "HGVSlist",
            T.StructType([T.StructField("HGVS", T.ArrayType(_HGVS))]),
        ),
        T.StructField(
            "XRefList",
            T.StructType(
                [T.StructField("XRef", T.ArrayType(T.StructType(_attr("DB", "ID", "Type"))))]
            ),
        ),
    ]
)

_RCV_ACCESSION = T.StructType(
    _attr("Accession")
    + [
        T.StructField(
            "ClassifiedConditionList",
            T.StructType(
                [T.StructField("ClassifiedCondition", T.ArrayType(T.StringType()))]
            ),
        ),
        T.StructField(
            "OncogenicityConditionList",
            T.StructType(
                [T.StructField("OncogenicityCondition", T.ArrayType(T.StringType()))]
            ),
        ),
        T.StructField(
            "SomaticClinicalImpactConditionList",
            T.StructType(
                [
                    T.StructField(
                        "SomaticClinicalImpactCondition", T.ArrayType(T.StringType())
                    )
                ]
            ),
        ),
    ]
)

_CLASSIFICATION = T.StructType(
    _attr("DateLastEvaluated")
    + [
        T.StructField("ReviewStatus", T.StringType()),
        T.StructField("GermlineClassification", T.StringType()),
        T.StructField("NoClassification", T.StringType()),
        T.StructField("OncogenicityClassification", T.StringType()),
        T.StructField("SomaticClinicalImpact", T.StringType()),
        T.StructField("Citation", T.ArrayType(_CITATION)),
    ]
)

_CLINICAL_ASSERTION = T.StructType(
    [
        T.StructField(
            "ClinVarAccession",
            T.StructType(_attr("SubmitterName", "OrgAbbreviation")),
        ),
        T.StructField(
            "AdditionalSubmitters",
            T.StructType(
                [
                    T.StructField(
                        "SubmitterDescription",
                        T.ArrayType(T.StructType(_attr("SubmitterName"))),
                    )
                ]
            ),
        ),
        T.StructField("Classification", _CLASSIFICATION),
        T.StructField(
            "ObservedInList",
            T.StructType(
                [
                    T.StructField(
                        "ObservedIn",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField(
                                        "Method",
                                        T.StructType(
                                            [T.StructField("MethodType", T.StringType())]
                                        ),
                                    )
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
        T.StructField("Comment", T.ArrayType(T.StringType())),
        T.StructField(
            "AttributeSet",
            T.ArrayType(
                T.StructType([T.StructField("Citation", T.ArrayType(_CITATION))])
            ),
        ),
    ]
)

_TRAIT_MAPPING = T.StructType(
    _attr("MappingRef", "MappingValue")
    + [T.StructField("MedGen", T.ArrayType(T.StructType(_attr("CUI", "Name"))))]
)

VCV_XML_SCHEMA = T.StructType(
    _attr("Accession", "VariationID")
    + [
        T.StructField("RecordStatus", T.StringType()),
        T.StructField("Species", T.StringType()),
        T.StructField(
            "ClassifiedRecord",
            T.StructType(
                [
                    T.StructField("SimpleAllele", T.ArrayType(_SIMPLE_ALLELE)),
                    T.StructField(
                        "Genotype", T.StructType(_attr("VariationID"))
                    ),
                    T.StructField(
                        "Haplotype", T.StructType(_attr("VariationID"))
                    ),
                    T.StructField(
                        "RCVList",
                        T.StructType(
                            [T.StructField("RCVAccession", T.ArrayType(_RCV_ACCESSION))]
                        ),
                    ),
                    T.StructField(
                        "ClinicalAssertionList",
                        T.StructType(
                            [
                                T.StructField(
                                    "ClinicalAssertion",
                                    T.ArrayType(_CLINICAL_ASSERTION),
                                )
                            ]
                        ),
                    ),
                    T.StructField(
                        "TraitMappingList",
                        T.StructType(
                            [T.StructField("TraitMapping", T.ArrayType(_TRAIT_MAPPING))]
                        ),
                    ),
                ]
            ),
        ),
    ]
)


# ---------------------------------------------------------------------------
# Framing + parse
# ---------------------------------------------------------------------------

def read_vcv_fragments(spark: SparkSession, path: str) -> DataFrame:
    """Split raw VCV XML into one row per ``<VariationArchive>`` record
    (column ``xml``), with the U+2212 fixup applied.

    ``lineSep``-based text scan: record boundaries are the natural
    input-split points, so a 70 GB release parallelizes across the
    cluster with no driver-side chunking. Header/trailer text outside
    records is dropped by the ``instr`` guard.

    The encode/decode roundtrip normalizes invalid UTF-8 to U+FFFD
    BEFORE the tag search (fuzz-found, tests/test_xml_fuzz.py): the
    text scan preserves raw bytes, and ``UTF8String`` char-stepping
    treats a bit-rotted dangling lead byte (e.g. ``C2``) directly
    before ``<VariationArchive`` as a 2-byte character that CONSUMES
    the ``<`` — ``instr`` then misses the tag and silently drops the
    record. A Java-decoder front end (what the reference's stream
    parser sees, ParseGroup.java) replaces the bad byte and keeps the
    record; the roundtrip reproduces exactly that, JVM-side.
    """
    raw = spark.read.option("lineSep", "</VariationArchive>").text(path)
    raw = raw.select(
        F.decode(F.encode(F.col("value"), "utf-8"), "utf-8").alias("value")
    )
    start = F.instr(F.col("value"), "<VariationArchive")
    xml = F.concat(
        F.expr("substring(value, instr(value, '<VariationArchive'))"),
        F.lit("</VariationArchive>"),
    )
    return raw.filter(start > 0).select(
        F.translate(xml, "−", "-").alias("xml")
    )


def parse_vcv(fragments: DataFrame, xml_col: str = "xml") -> DataFrame:
    """Parse framed record XML into the ``VCV_XML_SCHEMA`` tree
    (column ``rec``) — JVM-side ``from_xml``, no Python in the loop."""
    return fragments.select(
        F.from_xml(F.col(xml_col), VCV_XML_SCHEMA).alias("rec")
    )


# ---------------------------------------------------------------------------
# Extraction: tree -> variant_archive rows (FIXTURES.md §A2)
# ---------------------------------------------------------------------------

def _hgvs_type_norm(t: Column) -> Column:
    # Parser.java:195-197: replace ", "->"_", strip spaces, lowercase,
    # remove every "hgvs_" occurrence
    return F.replace(
        F.lower(F.replace(F.replace(t, F.lit(", "), F.lit("_")), F.lit(" "), F.lit(""))),
        F.lit("hgvs_"),
        F.lit(""),
    )


def _first_condition(rcv: Column) -> Column:
    """First condition value of the first RCV carrying any
    *ConditionList (document order; Parser.java:243-261)."""
    conds = F.flatten(
        F.transform(
            rcv,
            lambda r: F.concat(
                F.coalesce(
                    r["ClassifiedConditionList"]["ClassifiedCondition"],
                    F.array().cast("array<string>"),
                ),
                F.coalesce(
                    r["OncogenicityConditionList"]["OncogenicityCondition"],
                    F.array().cast("array<string>"),
                ),
                F.coalesce(
                    r["SomaticClinicalImpactConditionList"][
                        "SomaticClinicalImpactCondition"
                    ],
                    F.array().cast("array<string>"),
                ),
            ),
        )
    )
    return F.try_element_at(conds, F.lit(1))


def _pmids(citations: Column) -> Column:
    """PubMed IDs from an array<Citation> (Parser.java:476-483)."""
    ids = F.flatten(
        F.transform(
            F.coalesce(citations, F.array().cast(T.ArrayType(_CITATION))),
            lambda c: F.coalesce(
                c["ID"],
                F.array().cast(
                    T.ArrayType(
                        T.StructType(
                            _attr("Source") + [T.StructField("_VALUE", T.StringType())]
                        )
                    )
                ),
            ),
        )
    )
    return F.transform(
        F.filter(ids, lambda i: i["_Source"] == "PubMed"), lambda i: i["_VALUE"]
    )


def extract_records(parsed: DataFrame, rec_col: str = "rec") -> DataFrame:
    """``VCV_XML_SCHEMA`` tree -> one ``variant_archive`` row per
    record, including skipped kinds (record_kind marks F1/F2 classes so
    downstream filters + counters stay exact).

    All document-order picks follow the reference: first RCV accession
    and first SO acc win (O4); molecular consequence, ref/alt VCF
    alleles and date_last_evaluated are overwrite-per-element, so the
    LAST non-empty value wins (Parser.java setters)."""
    r = F.col(rec_col)
    cr = r["ClassifiedRecord"]
    sa_arr = cr["SimpleAllele"]
    sa = F.try_element_at(sa_arr, F.lit(1))

    multi_allele, simple, genotype, haplotype, empty = RECORD_KINDS
    kind = (
        F.when(F.size(sa_arr) > 1, multi_allele)
        .when(F.size(sa_arr) == 1, simple)
        .when(cr["Genotype"].isNotNull(), genotype)
        .when(cr["Haplotype"].isNotNull(), haplotype)
        .otherwise(empty)
    )

    rcv = F.coalesce(
        cr["RCVList"]["RCVAccession"], F.array().cast(T.ArrayType(_RCV_ACCESSION))
    )
    hgvs_arr = F.coalesce(
        sa["HGVSlist"]["HGVS"], F.array().cast(T.ArrayType(_HGVS))
    )

    # per-HGVS (type, expression) pairs: nucleotide then protein, doc order
    hgvs_pairs = F.flatten(
        F.transform(
            hgvs_arr,
            lambda h: F.filter(
                F.array(
                    F.struct(
                        _hgvs_type_norm(h["_Type"]).alias("type"),
                        h["NucleotideExpression"]["Expression"].alias("expression"),
                    ),
                    F.struct(
                        _hgvs_type_norm(h["_Type"]).alias("type"),
                        h["ProteinExpression"]["Expression"].alias("expression"),
                    ),
                ),
                lambda p: p["type"].isNotNull()
                & p["expression"].isNotNull()
                & (p["expression"] != ""),
            ),
        )
    )

    # MolecularConsequence elements in doc order (Type attr non-empty)
    mc = F.flatten(
        F.transform(
            hgvs_arr,
            lambda h: F.coalesce(
                h["MolecularConsequence"],
                F.array().cast(T.ArrayType(T.StructType(_attr("Type", "ID")))),
            ),
        )
    )
    mc_types = F.filter(
        F.transform(mc, lambda m: m["_Type"]),
        lambda t: t.isNotNull() & (t != ""),
    )
    so_accs = F.filter(
        F.transform(mc, lambda m: m["_ID"]),
        lambda i: i.isNotNull() & i.startswith("SO:"),
    )

    seq_locs = F.coalesce(
        sa["Location"]["SequenceLocation"],
        F.array().cast(
            T.ArrayType(
                T.StructType(
                    _attr(
                        "Assembly",
                        "Accession",
                        "Chr",
                        "start",
                        "stop",
                        "referenceAlleleVCF",
                        "alternateAlleleVCF",
                    )
                )
            )
        ),
    )

    def last_nonempty(arr: Column) -> Column:
        ne = F.filter(arr, lambda v: v.isNotNull() & (v != ""))
        return F.try_element_at(ne, F.lit(-1))

    asserts = F.coalesce(
        cr["ClinicalAssertionList"]["ClinicalAssertion"],
        F.array().cast(T.ArrayType(_CLINICAL_ASSERTION)),
    )

    assertion_structs = F.transform(
        asserts,
        lambda a: F.struct(
            a["ClinVarAccession"]["_SubmitterName"].alias("submitter"),
            a["ClinVarAccession"]["_OrgAbbreviation"].alias("org_abbrev"),
            F.transform(
                F.coalesce(
                    a["AdditionalSubmitters"]["SubmitterDescription"],
                    F.array().cast(
                        T.ArrayType(T.StructType(_attr("SubmitterName")))
                    ),
                ),
                lambda s: s["_SubmitterName"],
            ).alias("additional_submitters"),
            F.lower(a["Classification"]["ReviewStatus"]).alias("review_status"),
            F.coalesce(
                F.lower(a["Classification"]["GermlineClassification"]),
                F.lower(a["Classification"]["NoClassification"]),
                F.lower(a["Classification"]["OncogenicityClassification"]),
                F.when(
                    a["Classification"]["SomaticClinicalImpact"].isNotNull(),
                    F.concat(
                        F.lit("somatic clinical impact: "),
                        F.lower(a["Classification"]["SomaticClinicalImpact"]),
                    ),
                ),
            ).alias("classification"),
            F.when(
                a["Classification"]["GermlineClassification"].isNotNull(),
                "GermlineClassification",
            )
            .when(a["Classification"]["NoClassification"].isNotNull(), "NoClassification")
            .when(
                a["Classification"]["OncogenicityClassification"].isNotNull(),
                "OncogenicityClassification",
            )
            .when(
                a["Classification"]["SomaticClinicalImpact"].isNotNull(),
                "SomaticClinicalImpact",
            )
            .alias("classification_kind"),
            a["Classification"]["_DateLastEvaluated"].alias("date_last_evaluated"),
            F.transform(
                F.coalesce(
                    a["ObservedInList"]["ObservedIn"],
                    F.expr(
                        "CAST(array() AS array<struct<Method:struct<MethodType:string>>>)"
                    ),
                ),
                lambda o: F.lower(o["Method"]["MethodType"]),
            ).alias("method_types"),
            F.coalesce(a["Comment"], F.array().cast("array<string>")).alias("comments"),
            F.concat(
                _pmids(a["Classification"]["Citation"]),
                _pmids(
                    F.flatten(
                        F.coalesce(
                            F.transform(
                                F.coalesce(
                                    a["AttributeSet"],
                                    F.array().cast(
                                        T.ArrayType(
                                            T.StructType(
                                                [
                                                    T.StructField(
                                                        "Citation",
                                                        T.ArrayType(_CITATION),
                                                    )
                                                ]
                                            )
                                        )
                                    ),
                                ),
                                lambda s: F.coalesce(
                                    s["Citation"], F.array().cast(T.ArrayType(_CITATION))
                                ),
                            ),
                            F.array().cast(T.ArrayType(T.ArrayType(_CITATION))),
                        )
                    )
                ),
            ).alias("pmids"),
        ),
    )

    tms = F.coalesce(
        cr["TraitMappingList"]["TraitMapping"],
        F.array().cast(T.ArrayType(_TRAIT_MAPPING)),
    )

    return parsed.select(
        r["_Accession"].alias("vcv_accession"),
        sa["_AlleleID"].alias("allele_id"),
        sa["_VariationID"].alias("variation_id"),
        sa["Name"].alias("name"),
        F.lower(sa["VariantType"]).alias("variant_type"),
        F.try_element_at(sa["OtherNameList"]["Name"], F.lit(1)).alias("alt_name"),
        last_nonempty(mc_types).alias("molecular_consequence"),
        F.try_element_at(so_accs, F.lit(1)).alias("so_acc_xml"),
        F.transform(rcv, lambda x: x["_Accession"]).alias("rcv_accessions"),
        F.transform(
            F.coalesce(
                sa["GeneList"]["Gene"],
                F.array().cast(
                    T.ArrayType(T.StructType(_attr("Symbol", "GeneID", "HGNC_ID")))
                ),
            ),
            lambda g: F.struct(
                g["_GeneID"].alias("gene_id"),
                g["_Symbol"].alias("symbol"),
                g["_HGNC_ID"].alias("hgnc_id"),
            ),
        ).alias("genes"),
        F.transform(
            seq_locs,
            lambda s: F.struct(
                s["_Assembly"].alias("assembly"),
                s["_Chr"].alias("chr"),
                s["_Accession"].alias("accession"),
                s["_start"].alias("start"),
                s["_stop"].alias("stop"),
                s["_referenceAlleleVCF"].alias("ref_vcf"),
                s["_alternateAlleleVCF"].alias("alt_vcf"),
            ),
        ).alias("locations"),
        last_nonempty(
            F.transform(seq_locs, lambda s: s["_referenceAlleleVCF"])
        ).alias("ref_nuc"),
        last_nonempty(
            F.transform(seq_locs, lambda s: s["_alternateAlleleVCF"])
        ).alias("var_nuc"),
        F.coalesce(
            sa["Location"]["CytogeneticLocation"], F.array().cast("array<string>")
        ).alias("cyto_locations"),
        hgvs_pairs.alias("hgvs"),
        F.transform(
            F.coalesce(
                sa["XRefList"]["XRef"],
                F.array().cast(T.ArrayType(T.StructType(_attr("DB", "ID", "Type")))),
            ),
            lambda x: F.struct(
                x["_DB"].alias("db"), x["_ID"].alias("id"), x["_Type"].alias("type")
            ),
        ).alias("xrefs"),
        assertion_structs.alias("assertions"),
        F.transform(
            tms,
            lambda t: F.struct(
                t["_MappingRef"].alias("mapping_ref"),
                t["_MappingValue"].alias("mapping_value"),
                F.try_element_at(t["MedGen"], F.lit(1))["_CUI"].alias("medgen_cui"),
                F.try_element_at(t["MedGen"], F.lit(1))["_Name"].alias("medgen_name"),
            ),
        ).alias("trait_mappings"),
        _first_condition(rcv).alias("classified_condition"),
        kind.alias("record_kind"),
        r["RecordStatus"].alias("record_status"),
        r["Species"].alias("species"),
    )


def read_vcv_xml(spark: SparkSession, path: str) -> DataFrame:
    """End-to-end S2+S4+S5: raw release file(s) -> variant_archive."""
    return extract_records(parse_vcv(read_vcv_fragments(spark, path)))
