"""The --load pipeline as a snapshot-functional Spark plan.

``load_run(archive, prev, genes, run_ts)`` =
    f(prev_snapshot, parsed_release) -> (next_snapshot, diffs, counters)

re-expressing Manager.run --load (Manager.java:100-137) §3.1: the
reference's per-record QC->Loader mutation loop becomes set-oriented
classification — every Oracle round-trip is a join, every satellite
sync is one generic diff_sync, the three global collection passes are
one groupBy, and the guarded stale-delete is an anti-join with a
driver-side threshold branch. Counters fall out of the jobs that
materialize the data (Observation metrics on the one XML scan, one
groupBy over the checkpointed diffs), not out of extra passes. Where the
reference runs its chunk parsers and satellite syncs on hand-managed
threads, independent Spark actions here are submitted together
(session.run_concurrently) and share the cores through the scheduler.

Stage map (reference -> here):
- Parser.parse           -> sources/vcv_xml.read_vcv_xml (S5)
- record skips F1/F2     -> record_kind filter + observed counters
- QC.getVariantByRCVandName (J1, Dao.java:80-127)
                         -> cascade_lookup (RCV -> symbol -> name)
- QC field merges M3-M5  -> merge_pipe_sets_ci / ranked_clinsig_merge /
                            newer_date expressions
- Loader insert/update (J10/W1/W2, Loader.java:25-87)
                         -> diff_sync on the variants table
- satellite syncs J3-J7  -> diff_sync per entity: gene assoc J3
  (GeneAssociations.java:78-109), xdb ids J4 (XdbIds.java:82-146),
  map positions J5 (MapPositions.java:104-152), hgvs J6
  (HgvsNames.java:36-101), aliases J7 (Aliases.java:51-138)
- collections M6-M8      -> collection_values: ONE groupBy(rgd_id), a
                            sorted-set agg per column + one byte-trim pass
- last-modified W3       -> OR of change flags
- stale xdb delete W4    -> guarded_stale_delete

Scale: the release is partitioned by input splits; every lookup table
(genes, prev xdb key-52 slice) is broadcast; the only fact-fact
shuffles are the diff_sync full-outer joins.
"""

from __future__ import annotations

from dataclasses import dataclass, fields
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from clinvar_pipeline_spark.config import (
    ASSEMBLY_TO_MAP_KEY,
    COLUMN_BYTE_BUDGETS,
    STALE_XDB_DELETE_THRESHOLD,
    SO_DUPLICATION,
    SO_OBSOLETE_NO_REPLACEMENT,
    SO_SEQUENCE_ALTERATION,
    VARIANT_TYPE_TO_SO,
    VARIATION_MC_TO_SO,
    XDB_KEY_CLINVAR,
    XDB_KEY_HGNC,
    XDB_KEY_MEDGEN,
    XDB_KEY_NCBI_GENE,
    XDB_KEY_OMIM_ALLELE,
    XDB_KEY_PUBMED,
    XREF_DB_IGNORED,
    XREF_DB_JUNK_PATTERNS,
    XREF_DB_JUNK_PREFIXES,
    XREF_DB_TO_XDB_KEY,
)
from clinvar_pipeline_spark.functions.sets import (
    merge_pipe_sets_ci,
    newer_date,
    ranked_clinsig_merge,
)
from clinvar_pipeline_spark.functions.text import byte_trim
from clinvar_pipeline_spark.operators.cascade import CascadeStage, cascade_lookup
from clinvar_pipeline_spark.operators.diff_sync import (
    CHANGE_COL,
    INSERT,
    UNCHANGED,
    apply_diff,
    diff_sync,
)
from clinvar_pipeline_spark.operators.guarded_delete import guarded_stale_delete
from clinvar_pipeline_spark.session import rows_frame, run_concurrently
from clinvar_pipeline_spark.sources.vcv_xml import RECORD_KINDS

VARIANTS_SCHEMA = (
    "rgd_id long, symbol string, name string, object_type string,"
    " so_acc_id string, ref_nuc string, var_nuc string,"
    " nucleotide_change string, clinical_significance string,"
    " review_status string, method_type string,"
    " molecular_consequence string, age_of_onset string,"
    " prevalence string, submitter string, trait_name string,"
    " notes string, date_last_evaluated date, last_modified_date timestamp"
)
XDB_IDS_SCHEMA = (
    "rgd_id long, xdb_key int, acc_id string, link_text string,"
    " notes string, modification_date timestamp"
)
GENE_ASSOC_SCHEMA = "variant_rgd_id long, gene_rgd_id long"
MAP_POS_SCHEMA = (
    "rgd_id long, map_key int, chromosome string, start_pos int,"
    " stop_pos int, fish_band string, notes string"
)
HGVS_SCHEMA = "rgd_id long, type string, name string"
ALIASES_SCHEMA = "rgd_id long, value string, notes string"


@dataclass
class Snapshot:
    """Persistent state: the Parquet analogue of the reference's Oracle
    tables (SURVEY §1.3). A run maps snapshot -> snapshot, pure."""

    variants: DataFrame
    xdb_ids: DataFrame
    gene_associations: DataFrame
    map_positions: DataFrame
    hgvs_names: DataFrame
    aliases: DataFrame


# snapshot table -> its DDL: the empty first-run state and every read
SNAPSHOT_SCHEMAS = {
    "variants": VARIANTS_SCHEMA,
    "xdb_ids": XDB_IDS_SCHEMA,
    "gene_associations": GENE_ASSOC_SCHEMA,
    "map_positions": MAP_POS_SCHEMA,
    "hgvs_names": HGVS_SCHEMA,
    "aliases": ALIASES_SCHEMA,
}
# the same, for a snapshot --addRsIds wrote: its variants carry rs_id
RS_SNAPSHOT_SCHEMAS = {
    **SNAPSHOT_SCHEMAS,
    "variants": f"{VARIANTS_SCHEMA}, rs_id string",
}


def empty_snapshot(spark: SparkSession) -> Snapshot:
    return Snapshot(
        **{name: rows_frame(spark, [], ddl) for name, ddl in SNAPSHOT_SCHEMAS.items()}
    )


def read_snapshot(
    spark: SparkSession, path: str, schemas: dict[str, str] = SNAPSHOT_SCHEMAS
) -> Snapshot:
    """S6 (Dao.java:80-127,303-313): the 'current DB state' source —
    the previous run's Parquet snapshot replaces the Oracle reads.

    Every table is read with its declared schema, so the read runs no
    Spark job (an undeclared Parquet read runs one to infer it). A
    reader that consumes rs ids passes ``RS_SNAPSHOT_SCHEMAS``: on a
    snapshot written before --addRsIds, ``rs_id`` reads as null."""
    return Snapshot(
        **{
            name: spark.read.schema(ddl).parquet(f"{path}/{name}")
            for name, ddl in schemas.items()
        }
    )


def write_snapshot(snap: Snapshot, path: str) -> None:
    """S7 (Dao.java:142-155,218-248,438-453): the upsert sink — the
    classified row-sets land as a new immutable Parquet snapshot (also
    the S11 checkpoint: any snapshot dir doubles as the /tmp/clinvar.ser
    reuse cache, Clinvar2Vcf.java:405-418). Oracle's 999-key batch
    limit (O6, AnnotCache.java:285-301) has no Spark analogue —
    vectorized Parquet writes are unbatched; parity note only.

    The six table writes are independent actions and run concurrently."""

    def write(name: str):
        return lambda: getattr(snap, name).write.mode("overwrite").parquet(f"{path}/{name}")

    run_concurrently(snap.variants.sparkSession, *[write(f.name) for f in fields(Snapshot)])


@dataclass
class LoadResult:
    snapshot: Snapshot
    # counter prefix -> materialized diff_sync result: VARIANTS, XDB_IDS,
    # GENE_ASSOCIATIONS, MAP_POSITIONS, HGVS_NAMES, ALIASES
    diffs: dict[str, DataFrame]
    counters: DataFrame  # (counter, value)
    unknown_xref_dbs: DataFrame  # (db, n) — the reference's canary counters
    stale_xdb: object  # GuardedDeleteResult

    @property
    def variant_diff(self) -> DataFrame:
        return self.diffs["VARIANTS"]


# ---------------------------------------------------------------------------
# F12 — SO accession derivation
# ---------------------------------------------------------------------------

def derive_so_acc(
    variant_type: Column, so_xml: Column, mol_consequence: Column, alt_name: Column
) -> Column:
    """Parser.java:610-702 (handleSoAccId): XML-provided SO acc wins
    (obsolete SO:1000064 dropped); else the variant-type switch; the
    'variation' type resolves through molecular-consequence, then the
    alt-name exon-duplication heuristic, then 'sequence alteration'."""
    so_xml_ok = F.when(so_xml != SO_OBSOLETE_NO_REPLACEMENT, so_xml)

    type_so: Column = F.lit(None).cast("string")
    for vt, so in reversed(list(VARIANT_TYPE_TO_SO.items())):
        type_so = F.when(variant_type == vt, so).otherwise(type_so)

    mc = F.replace(F.coalesce(mol_consequence, F.lit("")), F.lit("_"), F.lit(" "))
    mc_so: Column = F.lit(None).cast("string")
    for m, so in reversed(list(VARIATION_MC_TO_SO.items())):
        mc_so = F.when(mc == m, so).otherwise(mc_so)

    an = F.lower(F.coalesce(alt_name, F.lit("")))
    variation_so = F.coalesce(
        mc_so,
        F.when(
            mc == "",
            F.when(
                an.contains("duplication") & an.contains("exon"), SO_DUPLICATION
            ).otherwise(SO_SEQUENCE_ALTERATION),
        ),
    )

    return F.coalesce(
        so_xml_ok,
        F.when(variant_type == "variation", variation_so).otherwise(type_so),
    )


# ---------------------------------------------------------------------------
# Incoming extraction: variant_archive -> per-entity incoming DataFrames
# ---------------------------------------------------------------------------

def _set_join(arr: Column) -> Column:
    """TreeSet contract: dedup, sort, '|'-join; null when empty."""
    joined = F.concat_ws(
        "|", F.array_sort(F.array_distinct(F.filter(arr, lambda v: v.isNotNull() & (v != ""))))
    )
    return F.when(joined != "", joined)


def build_incoming_variants(archive: DataFrame) -> DataFrame:
    """One incoming variant row per simple record, keyed by symbol
    (Parser.java:48-58 field population + in-record merges M1/M2/M10)."""
    a = archive.filter(F.col("record_kind") == "simple")
    asserts = F.col("assertions")
    primary_rcv = F.try_element_at(F.col("rcv_accessions"), F.lit(1))
    preferred = F.try_element_at(
        F.filter(F.col("trait_mappings"), lambda t: t["mapping_ref"] == "Preferred"),
        F.lit(1),
    )["mapping_value"]
    trait = F.coalesce(preferred, F.col("classified_condition"))
    suffix = F.when(
        primary_rcv.isNotNull() & (primary_rcv != ""),
        F.concat(F.lit(" ["), primary_rcv, F.lit("]")),
    ).otherwise(F.lit(""))
    dle = F.try_element_at(
        F.filter(
            F.transform(asserts, lambda x: x["date_last_evaluated"]),
            lambda d: d.isNotNull() & (d != ""),
        ),
        F.lit(-1),
    )
    return a.select(
        F.concat(F.lit("CV"), F.col("allele_id")).alias("symbol"),
        F.col("name"),
        F.col("variant_type").alias("object_type"),
        derive_so_acc(
            F.col("variant_type"),
            F.col("so_acc_xml"),
            F.col("molecular_consequence"),
            F.col("alt_name"),
        ).alias("so_acc_id"),
        F.col("ref_nuc"),
        F.col("var_nuc"),
        F.lit(None).cast("string").alias("nucleotide_change"),
        _set_join(F.transform(asserts, lambda x: x["classification"])).alias(
            "clinical_significance"
        ),
        _set_join(F.transform(asserts, lambda x: x["review_status"])).alias(
            "review_status"
        ),
        _set_join(F.flatten(F.transform(asserts, lambda x: x["method_types"]))).alias(
            "method_type"
        ),
        F.col("molecular_consequence"),
        F.lit(None).cast("string").alias("age_of_onset"),
        F.lit(None).cast("string").alias("prevalence"),
        _set_join(
            F.concat(
                F.transform(asserts, lambda x: x["submitter"]),
                F.transform(asserts, lambda x: x["org_abbrev"]),
                F.flatten(F.transform(asserts, lambda x: x["additional_submitters"])),
            )
        ).alias("submitter"),
        F.when(trait.isNotNull(), F.concat(trait, suffix)).alias("trait_name"),
        # M2: notes appended with '|', no dedup at parse time
        F.when(
            F.size(F.flatten(F.transform(asserts, lambda x: x["comments"]))) > 0,
            F.concat_ws("|", F.flatten(F.transform(asserts, lambda x: x["comments"]))),
        ).alias("notes"),
        F.to_date(dle, "yyyy-MM-dd").alias("date_last_evaluated"),
        primary_rcv.alias("primary_rcv"),
        F.col("rcv_accessions"),
        F.col("genes"),
        F.col("locations"),
        F.col("cyto_locations"),
        F.col("hgvs"),
        F.col("xrefs"),
        F.col("trait_mappings"),
        F.flatten(F.transform(asserts, lambda x: x["pmids"])).alias("pmids"),
    )


def dispatch_xrefs(inc: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F10/F16 (Parser.java:485-585): per-record xdb-id harvest.

    Returns (xdb rows keyed by symbol: symbol, xdb_key, acc_id,
    link_text, notes; unknown-db counter rows). The ~25-way switch is a
    broadcast mapping join; junk-db filters and per-key accession
    transforms are expressions."""
    spark = inc.sparkSession
    x = inc.select(
        "symbol", "primary_rcv", F.explode_outer("xrefs").alias("xr")
    ).select(
        "symbol",
        "primary_rcv",
        F.col("xr.db").alias("db"),
        F.col("xr.id").alias("id"),
        F.col("xr.type").alias("type"),
    ).filter(F.col("db").isNotNull() & F.col("id").isNotNull())

    junk = F.lit(False)
    for pat in XREF_DB_JUNK_PATTERNS:
        junk = junk | F.col("db").contains(pat)
    for pre in XREF_DB_JUNK_PREFIXES:
        junk = junk | F.col("db").startswith(pre)
    x = x.filter(~junk)

    known = x.filter(~F.col("db").isin(*XREF_DB_IGNORED))
    mapping = rows_frame(spark, XREF_DB_TO_XDB_KEY.items(), "db string, xdb_key int")
    dispatched = known.join(F.broadcast(mapping), "db", "left")
    unknown = (
        dispatched.filter(F.col("xdb_key").isNull())
        .groupBy("db")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hit = dispatched.filter(F.col("xdb_key").isNotNull())

    # per-key transforms
    omim_allele = hit.filter(
        (F.col("db") == "OMIM") & F.col("id").contains(".")
    ).select(
        "symbol",
        F.lit(XDB_KEY_OMIM_ALLELE).alias("xdb_key"),
        F.col("id").alias("acc_id"),
        F.col("id").alias("link_text"),
        F.col("primary_rcv").alias("notes"),
    )
    base = hit.select(
        "symbol",
        "xdb_key",
        F.when(
            (F.col("db") == "OMIM") & F.col("id").contains("."),
            F.split("id", "\\.").getItem(0),
        )
        .when(
            F.col("db") == "OMIM phenotypic series", F.concat(F.lit("MIM:"), "id")
        )
        .when(
            (F.col("db") == "Orphanet") & F.col("id").startswith("ORPHA"),
            F.expr("substring(id, 6)"),
        )
        .otherwise(F.col("id"))
        .alias("acc_id"),
        F.col("id").alias("link_text"),
        F.col("primary_rcv").alias("notes"),
        F.col("db"),
        F.col("type"),
    )
    # dbSNP: only rs-typed entries; link_text gets the 'rs' prefix
    base = base.filter(
        (F.col("db") != "dbSNP") | (F.col("type") == "rs")
    ).select(
        "symbol",
        "xdb_key",
        "acc_id",
        F.when(
            F.col("db") == "dbSNP", F.concat(F.lit("rs"), F.col("acc_id"))
        )
        .otherwise(F.col("link_text"))
        .alias("link_text"),
        "notes",
    )
    return base.unionByName(omim_allele), unknown


def build_incoming_xdb_ids(inc: DataFrame) -> tuple[DataFrame, DataFrame]:
    """All xdb-id sources of a record: RCV accessions (key 52, notes =
    the RCV itself), genes (NCBI gene + HGNC), dispatched xrefs,
    PubMed citations (digits-sanitized, F16), MedGen CUIs from trait
    mappings. Dedup per (symbol, xdb_key, acc_id) — the reference's
    in-record set semantics."""
    rcv = inc.select(
        "symbol", F.explode("rcv_accessions").alias("acc_id")
    ).select(
        "symbol",
        F.lit(XDB_KEY_CLINVAR).alias("xdb_key"),
        "acc_id",
        F.col("acc_id").alias("link_text"),
        F.col("acc_id").alias("notes"),
    )
    genes = inc.select(
        "symbol", "primary_rcv", F.explode("genes").alias("g")
    )
    gene_ids = genes.filter(F.col("g.gene_id").isNotNull()).select(
        "symbol",
        F.lit(XDB_KEY_NCBI_GENE).alias("xdb_key"),
        F.col("g.gene_id").alias("acc_id"),
        F.col("g.symbol").alias("link_text"),
        F.col("primary_rcv").alias("notes"),
    )
    hgnc = genes.filter(F.col("g.hgnc_id").isNotNull()).select(
        "symbol",
        F.lit(XDB_KEY_HGNC).alias("xdb_key"),
        F.col("g.hgnc_id").alias("acc_id"),
        F.col("g.hgnc_id").alias("link_text"),
        F.col("primary_rcv").alias("notes"),
    )
    pmid = inc.select(
        "symbol", "primary_rcv", F.explode("pmids").alias("p")
    ).select(
        "symbol",
        F.lit(XDB_KEY_PUBMED).alias("xdb_key"),
        F.regexp_replace("p", "[^0-9]", "").alias("acc_id"),
        F.regexp_replace("p", "[^0-9]", "").alias("link_text"),
        F.col("primary_rcv").alias("notes"),
    ).filter(F.col("acc_id") != "")
    medgen = inc.select(
        "symbol", "primary_rcv", F.explode("trait_mappings").alias("t")
    ).filter(
        F.col("t.medgen_cui").isNotNull() & (F.col("t.medgen_cui") != "None")
    ).select(
        "symbol",
        F.lit(XDB_KEY_MEDGEN).alias("xdb_key"),
        F.col("t.medgen_cui").alias("acc_id"),
        F.col("t.medgen_cui").alias("link_text"),
        F.col("primary_rcv").alias("notes"),
    )
    xrefs, unknown = dispatch_xrefs(inc)
    all_ids = (
        rcv.unionByName(gene_ids)
        .unionByName(hgnc)
        .unionByName(pmid)
        .unionByName(medgen)
        .unionByName(xrefs)
        .dropDuplicates(["symbol", "xdb_key", "acc_id"])
    )
    return all_ids, unknown


def build_incoming_map_positions(inc: DataFrame) -> DataFrame:
    """F7/F8/F9 (MapPositions.java:25-93): assembly -> map_key
    (GRCh37.pN prefix-matched), chr/start/stop required, start>stop
    swapped, fish_band from the cytogenetic location whose chromosome
    prefix matches."""
    spark = inc.sparkSession
    amap = rows_frame(
        spark, ASSEMBLY_TO_MAP_KEY.items(), "assembly_name string, map_key int"
    )
    loc = inc.select(
        "symbol",
        "primary_rcv",
        F.explode("locations").alias("L"),
        F.col("cyto_locations"),
    ).select(
        "symbol",
        F.col("primary_rcv"),
        F.col("L.assembly").alias("assembly"),
        F.col("L.chr").alias("chromosome"),
        F.col("L.start").cast("int").alias("p1"),
        F.col("L.stop").cast("int").alias("p2"),
        F.col("cyto_locations"),
    ).filter(
        F.col("chromosome").isNotNull()
        & F.col("p1").isNotNull()
        & F.col("p2").isNotNull()
    )
    # GRCh37.p13 etc: match on the dot-less prefix
    loc = loc.withColumn(
        "assembly_name", F.split("assembly", "\\.").getItem(0)
    ).join(F.broadcast(amap), "assembly_name", "inner")
    cyto_match = F.try_element_at(
        F.filter(
            F.col("cyto_locations"),
            lambda c: F.regexp_extract(c, "^([0-9XY]+)[pq]", 1)
            == F.col("chromosome"),
        ),
        F.lit(1),
    )
    return loc.select(
        "symbol",
        "map_key",
        "chromosome",
        F.least("p1", "p2").alias("start_pos"),
        F.greatest("p1", "p2").alias("stop_pos"),
        cyto_match.alias("fish_band"),
        F.col("primary_rcv").alias("notes"),
    ).dropDuplicates(["symbol", "map_key", "chromosome", "start_pos", "stop_pos"])


def build_incoming_hgvs(inc: DataFrame) -> DataFrame:
    """F6 (HgvsNames.java:23-29): length-guarded hgvs names."""
    return (
        inc.select("symbol", F.explode("hgvs").alias("h"))
        .select("symbol", F.col("h.type").alias("type"), F.col("h.expression").alias("name"))
        .filter(F.length("name") <= 4000)
        .dropDuplicates(["symbol", "type", "name"])
    )


def build_incoming_aliases(inc: DataFrame) -> DataFrame:
    """F5 (Aliases.java:28-49): MedGen trait names as aliases, minus
    null/empty/'not provided'/'not specified' and names equal to the
    trait name (case-insensitive, with or without the ' [RCV]'
    suffix); in-record dups collapse case-insensitively."""
    al = inc.select(
        "symbol",
        "primary_rcv",
        "trait_name",
        F.explode("trait_mappings").alias("t"),
    ).select(
        "symbol",
        "primary_rcv",
        "trait_name",
        F.col("t.medgen_name").alias("value"),
    )
    trait_stripped = F.regexp_replace(
        F.coalesce(F.col("trait_name"), F.lit("")), " \\[RCV[0-9]+\\]$", ""
    )
    filtered = al.filter(
        F.col("value").isNotNull()
        & (F.trim("value") != "")
        & ~F.lower("value").isin("not provided", "not specified")
        & (F.lower("value") != F.lower(trait_stripped))
        & (F.lower("value") != F.lower(F.coalesce("trait_name", F.lit(""))))
    )
    return (
        filtered.groupBy("symbol", F.lower("value").alias("_k"))
        .agg(
            F.min("value").alias("value"),
            F.min("primary_rcv").alias("notes"),
        )
        .select("symbol", "value", "notes")
    )


def build_incoming_gene_assocs(inc: DataFrame, genes_dim: DataFrame) -> DataFrame:
    """J2 (GeneAssociations.java:38-72): NCBI gene id -> gene rgd id
    via the (broadcast) genes dim; ambiguous or missing ids fall back
    to symbol lookup; still ambiguous -> no match (counted)."""
    pairs = inc.select(
        "symbol", F.explode("genes").alias("g")
    ).select(
        "symbol",
        F.col("g.gene_id").alias("gene_id"),
        F.col("g.symbol").alias("gene_symbol"),
    )
    matched = cascade_lookup(
        pairs,
        [
            CascadeStage(
                name="by_gene_id",
                lookup=genes_dim.select(
                    F.col("gene_id").alias("k"), F.col("gene_rgd_id").alias("v")
                ),
                key_col="k",
                probe_col="gene_id",
                value_col="v",
            ),
            CascadeStage(
                name="by_symbol",
                lookup=genes_dim.select(
                    F.col("symbol").alias("k"), F.col("gene_rgd_id").alias("v")
                ),
                key_col="k",
                probe_col="gene_symbol",
                value_col="v",
            ),
        ],
        result_col="gene_rgd_id",
        provenance_col="gene_matched_by",
    )
    return matched.filter(F.col("gene_rgd_id").isNotNull()).select(
        "symbol", F.col("gene_rgd_id").cast("long").alias("gene_rgd_id")
    ).distinct()


# ---------------------------------------------------------------------------
# J1 variant match + rgd_id assignment
# ---------------------------------------------------------------------------

def match_variants(
    variants_in: DataFrame,
    prev: Snapshot,
    max_prev: int,
    _scratch: list | None = None,
) -> DataFrame:
    """Dao.java:80-127: find the existing variant by primary-RCV xdb
    (key 52), else by symbol, else by name; >1 hit at any stage =
    no-match (ambiguity guard inside cascade_lookup). New variants get
    rgd_ids above ``max_prev`` (the previous snapshot's highest rgd_id,
    0 when it is empty), dense by symbol (deterministic).

    ``_scratch``, when given, collects the internally persisted frames
    so the caller can unpersist them once the returned plan has
    materialized (load_run releases after its eager checkpoint) —
    otherwise repeated invocations in one session leak cache blocks."""
    rcv_lookup = (
        prev.xdb_ids.filter(F.col("xdb_key") == XDB_KEY_CLINVAR)
        .join(
            prev.variants.select("rgd_id"),
            "rgd_id",
        )
        .select(F.col("acc_id").alias("k"), F.col("rgd_id").alias("v"))
    )
    matched = cascade_lookup(
        variants_in,
        [
            CascadeStage("by_rcv", rcv_lookup, "k", "primary_rcv", "v"),
            CascadeStage(
                "by_symbol",
                prev.variants.select(
                    F.col("symbol").alias("k"), F.col("rgd_id").alias("v")
                ),
                "k",
                "symbol",
                "v",
            ),
            CascadeStage(
                "by_name",
                prev.variants.select(
                    F.col("name").alias("k"), F.col("rgd_id").alias("v")
                ),
                "k",
                "name",
                "v",
            ),
        ],
        result_col="matched_rgd_id",
        provenance_col="matched_by",
    )
    # Two-phase dense id assignment (no global single-partition window —
    # that funnels every new variant through ONE task at scale):
    #   1. range-partition new symbols → contiguous, ordered ranges with
    #      ascending partition ids; per-partition row_number is cheap.
    #   2. exclusive prefix-sum of per-partition counts gives each
    #      partition's global offset. That window runs over only
    #      n_partitions rows (~32-2000), so its single task is trivial.
    # Net: same deterministic dense-by-symbol ids as a global
    # row_number().over(Window.orderBy("symbol")), fully parallel.
    new_syms = (
        matched.filter(F.col("matched_rgd_id").isNull())
        .select("symbol")
        .repartitionByRange("symbol")
        .withColumn("_pid", F.spark_partition_id())
    )
    # persisted: two plan branches (offsets, new_ids join) read the
    # (_pid, _local_rn) pairing, and both must see ONE materialization
    # of the range exchange — an unreused recomputation or stage retry
    # could resample range bounds and shift partition ids, yielding
    # duplicate or skipped rgd_ids
    local = new_syms.withColumn(
        "_local_rn",
        F.row_number().over(Window.partitionBy("_pid").orderBy("symbol")),
    ).persist()
    if _scratch is not None:
        _scratch.append(local)
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
    new_ids = (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(
            "new_rgd_id", F.col("_local_rn") + F.col("_offset") + F.lit(max_prev)
        )
        .drop("_pid", "_local_rn", "_offset")
    )
    return matched.join(new_ids, "symbol", "left").withColumn(
        "rgd_id",
        F.coalesce(F.col("matched_rgd_id").cast("long"), F.col("new_rgd_id").cast("long")),
    ).drop("new_rgd_id")


# ---------------------------------------------------------------------------
# QC merges M3-M5
# ---------------------------------------------------------------------------

_CI_MERGE_FIELDS = [
    "age_of_onset",
    "method_type",
    "molecular_consequence",
    "prevalence",
    "review_status",
]


def qc_merge_variants(matched: DataFrame, prev_variants: DataFrame) -> DataFrame:
    """QC.java:54-94: merge incoming fields with the in-RGD row of the
    matched variant. Unmatched (new) rows pass through."""
    old = prev_variants.select(
        F.col("rgd_id"),
        *[F.col(c).alias(f"_old_{c}") for c in _CI_MERGE_FIELDS],
        F.col("clinical_significance").alias("_old_cs"),
        F.col("date_last_evaluated").alias("_old_dle"),
    )
    j = matched.join(old, "rgd_id", "left")
    out = j
    for c in _CI_MERGE_FIELDS:
        out = out.withColumn(
            c,
            F.when(F.col(c).isNull(), F.col(f"_old_{c}"))
            .when(F.col(f"_old_{c}").isNull(), F.col(c))
            .otherwise(merge_pipe_sets_ci(F.col(c), F.col(f"_old_{c}"))),
        ).drop(f"_old_{c}")
    out = (
        out.withColumn(
            "clinical_significance",
            F.when(F.col("clinical_significance").isNull(), F.col("_old_cs"))
            .when(F.col("_old_cs").isNull(), F.col("clinical_significance"))
            .otherwise(
                ranked_clinsig_merge(F.col("clinical_significance"), F.col("_old_cs"))
            ),
        )
        .drop("_old_cs")
        .withColumn(
            "date_last_evaluated",
            newer_date(F.col("date_last_evaluated"), F.col("_old_dle")).cast("date"),
        )
        .drop("_old_dle")
    )
    return out


# ---------------------------------------------------------------------------
# Collections M6-M8 (+ M9 trim)
# ---------------------------------------------------------------------------

# collection column -> joiner of its sorted set
COLLECTION_JOINERS = {"notes": "; ", "trait_name": "|", "submitter": "|"}


def collection_values(df: DataFrame) -> DataFrame:
    """NotesCollection/TraitNameCollection/SubmitterCollection
    (M6-M8, Manager.java:128-130): per rgd_id and per collection
    column, split every non-blank incoming value on '|', TreeSet the
    non-empty parts, join them with the column's joiner and trim to its
    byte budget; null when no part survives. The reference runs three
    global passes; here all three are one groupBy, and their trims JVM
    expressions over its result. Returns (rgd_id, notes, trait_name,
    submitter)."""
    parts = {
        c: F.when(
            F.col(c).isNotNull() & (F.trim(c) != ""),
            F.filter(F.split(F.col(c), "\\|"), lambda p: p != ""),
        )
        for c in COLLECTION_JOINERS
    }
    sets = df.groupBy("rgd_id").agg(
        *[
            # collect_list skips the null (blank) rows
            F.array_sort(F.array_distinct(F.flatten(F.collect_list(p)))).alias(c)
            for c, p in parts.items()
        ]
    )
    return sets.select(
        "rgd_id",
        *[
            byte_trim(
                F.when(F.size(c) > 0, F.concat_ws(joiner, c)), COLUMN_BYTE_BUDGETS[c]
            ).alias(c)
            for c, joiner in COLLECTION_JOINERS.items()
        ],
    )


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------

ENTRY_CLASSES = (
    "CLINVAR_ENTRY_CLINICAL_SIGNIFICANCE_NOT_PROVIDED",
    "CLINVAR_ENTRY_CONDITION_NOT_PROVIDED",
    "CLINVAR_ENTRY_OTHER",
)


def entry_class() -> Column:
    """F4 entry classification of an incoming variant row: one of
    ``ENTRY_CLASSES``."""
    cs_np, cond_np, other = ENTRY_CLASSES
    return (
        F.when(
            F.coalesce("clinical_significance", F.lit("")).contains("not provided"),
            cs_np,
        )
        .when(
            F.col("trait_name").isNull()
            | F.col("trait_name").contains("not provided")
            | F.col("trait_name").contains("not specified"),
            cond_np,
        )
        .otherwise(other)
    )


def archive_counter_columns() -> list[Column]:
    """Aggregate columns over a ``variant_archive``, each named after its
    counter: ``RECORDS_<KIND>`` per F1/F2 record class, and the F3
    canaries (Parser.java:449-458: records that are not record-status
    'current' or not Homo sapiens are processed anyway, but the
    reference warns with dedicated counters)."""
    return [
        *[
            F.count_if(F.col("record_kind") == k).alias(f"RECORDS_{k.upper()}")
            for k in RECORD_KINDS
        ],
        F.count_if(F.coalesce("record_status", F.lit("")) != "current").alias(
            "NON_CURRENT_RECORD"
        ),
        F.count_if(F.coalesce("species", F.lit("")) != "Homo sapiens").alias(
            "NON_HUMAN_SPECIES"
        ),
    ]


def load_run(
    archive: DataFrame,
    prev: Snapshot,
    genes_dim: DataFrame,
    run_ts: str = "2026-01-01 00:00:00",
    stale_cutoff_days: int = 1,
) -> LoadResult:
    """Full --load semantics, snapshot-in/snapshot-out. ``genes_dim``
    must have (gene_rgd_id, gene_id, symbol).

    Every result is computed once. The XML is scanned by one job, the
    eager checkpoint that stages the incoming records; the record-kind,
    canary and entry-class counters are Observation metrics of that
    same job, as the reference's GlobalCounters are bumped inside its
    one parse pass. Each of the six diffs is checkpointed right after
    it is built, and its table write, the variants' last-modified
    flags, the stale-xdb guard and the diff-class counters all read
    that checkpoint. ``counters`` is therefore one small job away: the
    observed counts are driver-side rows and the diff classes one
    groupBy over the checkpoints. The M6-M8 collections are one
    groupBy, joined once into the next variants.

    Independent actions overlap (``run_concurrently``): the staging
    checkpoint runs beside the previous max rgd_id lookup, and the six
    diff checkpoints run together, the stale-xdb guard's count chained
    behind the xdb diff in that diff's thread. The returned snapshot
    frames are lazy; the caller's writes overlap too (cli.cmd_load)."""
    spark = archive.sparkSession
    ts = F.lit(run_ts).cast("timestamp")

    # Stage the parsed incoming records (the reference's chunk-cache S3
    # analogue): everything downstream branches off `inc` many times —
    # without truncation each of the ~6 diffs + collections would
    # re-parse the XML and re-run the match joins per action. The
    # previous max rgd_id, which new ids start above, is an independent
    # action over the previous snapshot and runs alongside.
    #
    # The archive counters are observed BELOW the simple-record filter;
    # Catalyst does not push filters through an observation, so every
    # record kind is counted.
    record_obs, entry_obs = Observation("load_records"), Observation("load_entries")
    observed = archive.observe(record_obs, *archive_counter_columns())
    inc, max_prev = run_concurrently(
        spark,
        lambda: build_incoming_variants(observed)
        .observe(entry_obs, *[F.count_if(entry_class() == c).alias(c) for c in ENTRY_CLASSES])
        .localCheckpoint(eager=True),
        lambda: prev.variants.agg(F.max("rgd_id")).first()[0] or 0,
    )
    # absent counters read as zero, like the reference's unsent warnings
    observed_counts = [
        (name, value)
        for obs in (record_obs, entry_obs)
        for name, value in obs.get.items()
        if value
    ]

    _scratch: list = []
    matched = match_variants(inc, prev, max_prev, _scratch=_scratch)
    merged = qc_merge_variants(matched, prev.variants).localCheckpoint(eager=True)
    # the eager checkpoint above materialized every consumer of the
    # frames match_variants persisted — release them so repeated
    # load_run calls in one session don't accumulate cache blocks
    for _df in _scratch:
        _df.unpersist()

    # satellites keyed by symbol -> rgd_id
    sym2id = merged.select("symbol", "rgd_id")

    def to_rgd(df: DataFrame) -> DataFrame:
        return df.join(F.broadcast(sym2id), "symbol").drop("symbol")

    xdb_in_sym, unknown_dbs = build_incoming_xdb_ids(inc)
    xdb_in = to_rgd(xdb_in_sym)
    map_in = to_rgd(build_incoming_map_positions(inc))
    hgvs_in = to_rgd(build_incoming_hgvs(inc))
    alias_in = to_rgd(build_incoming_aliases(inc))
    assoc_in = to_rgd(build_incoming_gene_assocs(inc, genes_dim)).withColumnRenamed(
        "rgd_id", "variant_rgd_id"
    )

    def materialized_diff(*args, **kwargs) -> DataFrame:
        # one job per diff: each has up to four consumers (its table
        # write, changed_sat, the guard, the counters), and an
        # unmaterialized diff re-runs its full outer join for each
        return diff_sync(*args, **kwargs).localCheckpoint(eager=True)

    # variant diff (J10/W1/W2): compare over the QC'd columns
    compare_cols = [
        "symbol",
        "name",
        "object_type",
        "so_acc_id",
        "ref_nuc",
        "var_nuc",
        "nucleotide_change",
        "clinical_significance",
        "review_status",
        "method_type",
        "molecular_consequence",
        "age_of_onset",
        "prevalence",
        "date_last_evaluated",
    ]

    # satellite diffs (existing side restricted to this run's variants)
    run_ids = merged.select("rgd_id").distinct()

    def run_slice(df: DataFrame, key: str = "rgd_id") -> DataFrame:
        return df.join(
            F.broadcast(run_ids.withColumnRenamed("rgd_id", key)), key
        )

    # W4 (Dao.java:409-436): the reference touches MODIFICATION_DATE on
    # every incoming xdb id, then deletes rows whose date predates the
    # run cutoff — unless they exceed 8% of the table (circuit breaker).
    # Snapshot-functionally: a prev row is a stale candidate iff its key
    # is absent from this run's incoming AND its preserved
    # modification_date is older than run_ts - stale_cutoff_days (the
    # grace window keeps rows recently touched by other runs).
    #
    # This run's incoming keys are read off the materialized diff: the
    # full outer join carries every xdb_in key, and exactly those rows
    # are not DELETEs. The guard's count therefore waits for the xdb
    # diff alone, in that diff's thread.
    _xdb_key_cols = ["rgd_id", "xdb_key", "acc_id"]
    recently_modified = prev.xdb_ids.filter(
        F.col("modification_date")
        >= ts - F.expr(f"INTERVAL {int(stale_cutoff_days)} DAYS")
    ).select(*_xdb_key_cols)

    def xdb_diff_and_guard():
        xdb_diff = materialized_diff(
            xdb_in,
            run_slice(prev.xdb_ids.drop("modification_date")),
            key_cols=_xdb_key_cols,
        )
        stale = guarded_stale_delete(
            prev.xdb_ids,
            touched=apply_diff(xdb_diff, _xdb_key_cols, []).unionByName(
                recently_modified
            ),
            key_cols=_xdb_key_cols,
            threshold=STALE_XDB_DELETE_THRESHOLD,
        )
        return xdb_diff, stale

    # the six diffs are independent actions: build them concurrently
    v_diff, (xdb_diff, stale), assoc_diff, map_diff, hgvs_diff, alias_diff = (
        run_concurrently(
            spark,
            lambda: materialized_diff(
                merged.select("rgd_id", *compare_cols),
                prev.variants.select("rgd_id", *compare_cols),
                key_cols=["rgd_id"],
                compare_cols=compare_cols,
            ),
            xdb_diff_and_guard,
            lambda: materialized_diff(
                assoc_in,
                run_slice(prev.gene_associations, "variant_rgd_id"),
                key_cols=["variant_rgd_id", "gene_rgd_id"],
            ),
            lambda: materialized_diff(
                map_in,
                run_slice(prev.map_positions),
                key_cols=["rgd_id", "map_key", "chromosome", "start_pos", "stop_pos"],
            ),
            lambda: materialized_diff(
                hgvs_in,
                run_slice(prev.hgvs_names),
                key_cols=["rgd_id", "type", "name"],
            ),
            lambda: materialized_diff(
                alias_in,
                run_slice(prev.aliases),
                key_cols=["rgd_id", "value"],
            ),
        )
    )

    # W3: variant last_modified touched iff variant or any satellite changed
    changed_sat = None
    for d, key in [
        (xdb_diff, "rgd_id"),
        (map_diff, "rgd_id"),
        (hgvs_diff, "rgd_id"),
        (alias_diff, "rgd_id"),
        (assoc_diff, "variant_rgd_id"),
    ]:
        c = (
            d.filter(F.col(CHANGE_COL) != UNCHANGED)
            .select(F.col(key).alias("rgd_id"))
            .distinct()
        )
        changed_sat = c if changed_sat is None else changed_sat.unionByName(c)
    changed_sat = changed_sat.distinct()

    # next snapshot: classified rows + untouched prev rows
    def next_table(
        diff: DataFrame, prev_df: DataFrame, key: str, cols: list[str]
    ) -> DataFrame:
        kept = apply_diff(diff, cols, [])
        untouched = prev_df.join(
            F.broadcast(run_ids.withColumnRenamed("rgd_id", key)), key, "left_anti"
        ).select(*cols)
        return kept.unionByName(untouched)

    next_assoc = next_table(
        assoc_diff, prev.gene_associations, "variant_rgd_id",
        ["variant_rgd_id", "gene_rgd_id"],
    )
    next_map = next_table(
        map_diff, prev.map_positions, "rgd_id",
        ["rgd_id", "map_key", "chromosome", "start_pos", "stop_pos", "fish_band", "notes"],
    )
    next_hgvs = next_table(
        hgvs_diff, prev.hgvs_names, "rgd_id", ["rgd_id", "type", "name"]
    )
    next_alias = next_table(
        alias_diff, prev.aliases, "rgd_id", ["rgd_id", "value", "notes"]
    )

    # next xdb state, gated by the guard (round-2 fix — the breaker used
    # to be computed but never applied, so a truncated release silently
    # lost rows):
    #   - incoming-classified rows (INSERT/UPDATE/UNCHANGED) carry
    #     incoming values and a fresh modification_date (touched);
    #   - every other prev row flows through ``stale.kept``, which is
    #     all of prev when the guard aborted, else prev minus the stale
    #     set — so diff DELETEs and stale rows of variants outside the
    #     run are only dropped when the breaker allows it, and untouched
    #     rows keep their prior modification_date (the signal the next
    #     run's cutoff needs).
    _xdb_cols = ["rgd_id", "xdb_key", "acc_id", "link_text", "notes"]
    xdb_touched = apply_diff(xdb_diff, _xdb_key_cols, ["link_text", "notes"])
    inc_keys = xdb_touched.select(
        *[F.col(c).alias(f"_i_{c}") for c in _xdb_key_cols]
    ).dropDuplicates()
    _inc_cond = None
    for c in _xdb_key_cols:
        eq = F.col(c).eqNullSafe(F.col(f"_i_{c}"))
        _inc_cond = eq if _inc_cond is None else _inc_cond & eq
    next_xdb = (
        xdb_touched.withColumn("modification_date", ts)
        .unionByName(
            stale.kept.join(inc_keys, on=_inc_cond, how="left_anti").select(
                *_xdb_cols, "modification_date"
            )
        )
    )

    # variants next state: merged rows + collection overrides + untouched
    # (collections over matched variants only in the reference; new
    # variants carry their values directly — same result either way)
    v_base = merged.select("rgd_id", *compare_cols)
    v_final = (
        v_base.join(collection_values(merged), "rgd_id", "left")
        .join(
            changed_sat.withColumn("_sat_changed", F.lit(True)), "rgd_id", "left"
        )
    )
    v_changed = v_diff.filter(F.col(CHANGE_COL).isin(INSERT, "UPDATE")).select(
        "rgd_id"
    ).withColumn("_var_changed", F.lit(True))
    prev_lm = prev.variants.select(
        "rgd_id", F.col("last_modified_date").alias("_prev_lm"),
        F.col("trait_name").alias("_prev_trait"),
        F.col("notes").alias("_prev_notes"),
        F.col("submitter").alias("_prev_subm"),
    )
    v_final = (
        v_final.join(v_changed, "rgd_id", "left")
        .join(prev_lm, "rgd_id", "left")
        .withColumn(
            "_coll_changed",
            ~(
                F.coalesce(F.col("trait_name"), F.lit("\x00")).eqNullSafe(
                    F.coalesce(F.col("_prev_trait"), F.lit("\x00"))
                )
                & F.coalesce(F.col("notes"), F.lit("\x00")).eqNullSafe(
                    F.coalesce(F.col("_prev_notes"), F.lit("\x00"))
                )
                & F.coalesce(F.col("submitter"), F.lit("\x00")).eqNullSafe(
                    F.coalesce(F.col("_prev_subm"), F.lit("\x00"))
                )
            ),
        )
        .withColumn(
            "last_modified_date",
            F.when(
                F.coalesce("_var_changed", F.lit(False))
                | F.coalesce("_sat_changed", F.lit(False))
                | F.col("_coll_changed"),
                ts,
            ).otherwise(F.coalesce(F.col("_prev_lm"), ts)),
        )
        .drop(
            "_var_changed", "_sat_changed", "_coll_changed", "_prev_lm",
            "_prev_trait", "_prev_notes", "_prev_subm",
        )
    )
    untouched_vars = prev.variants.join(run_ids, "rgd_id", "left_anti")
    next_variants = v_final.select(*[c for c in untouched_vars.columns]).unionByName(
        untouched_vars
    )

    # counters: the observed record kinds, canaries and entry classes,
    # plus the per-entity diff classes as ONE groupBy over the six
    # checkpointed diffs
    diffs = {
        "VARIANTS": v_diff,
        "XDB_IDS": xdb_diff,
        "GENE_ASSOCIATIONS": assoc_diff,
        "MAP_POSITIONS": map_diff,
        "HGVS_NAMES": hgvs_diff,
        "ALIASES": alias_diff,
    }
    diff_counts = (
        reduce(
            DataFrame.unionByName,
            [
                d.select(F.concat(F.lit(entity + "_"), F.col(CHANGE_COL)).alias("counter"))
                for entity, d in diffs.items()
            ],
        )
        .groupBy("counter")
        .agg(F.count(F.lit(1)).alias("value"))
    )
    counters = rows_frame(
        spark, observed_counts, "counter string, value long"
    ).unionByName(diff_counts)

    return LoadResult(
        snapshot=Snapshot(
            variants=next_variants,
            xdb_ids=next_xdb,
            gene_associations=next_assoc,
            map_positions=next_map,
            hgvs_names=next_hgvs,
            aliases=next_alias,
        ),
        diffs=diffs,
        counters=counters,
        unknown_xref_dbs=unknown_dbs,
        stale_xdb=stale,
    )
