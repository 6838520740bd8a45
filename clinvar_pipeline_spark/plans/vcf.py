"""The --clinvar2vcf pipeline as a Spark plan (Clinvar2Vcf.java:25-181).

``clinvar2vcf(variants, map_positions, db_snp, ref_bases)`` renders the
variant snapshot as VCF data lines:

- per-chromosome scan          -> one partitioned scan (no driver loop)
- J17 dbSNP position join      (Clinvar2Vcf.java:420-448)
- J18 reference-base check     (Clinvar2Vcf.java:362-403; the per-row
  HTTP fetch becomes a hash join against a ref_bases table — un-hinted
  so AQE broadcasts only when the actual table is dim-sized)
- F18 bad-ref filter, W6 indel padding normalization
  (Clinvar2Vcf.java:188-259)
- A5 grouping by chr|pos|rs|type with sorted comma-set allele merge,
  '-' for null (Clinvar2Vcf.java:183-203)
- F17 multi-base guard         (Clinvar2Vcf.java:111-114)
- O1 genome sort + S9 line render (sources/vcf_sink.write_vcf)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRCH38_MAP_KEY = 38


def _flagged_rows(
    variants: DataFrame,
    map_positions: DataFrame,
    db_snp: DataFrame | None = None,
    ref_bases: DataFrame | None = None,
) -> DataFrame:
    """Joined/checked per-variant rows with a ``_drop_reason`` column
    (null = kept) instead of silent filters, so the export and its
    drop counters share one lineage."""
    v = variants.select(
        "rgd_id",
        F.lower("object_type").alias("vt"),
        "ref_nuc",
        "var_nuc",
        F.col("rs_id") if "rs_id" in variants.columns else F.lit(None).cast("string").alias("rs_id"),
    )
    pos = map_positions.filter(F.col("map_key") == GRCH38_MAP_KEY).select(
        "rgd_id",
        F.col("chromosome").alias("chr"),
        F.col("start_pos").alias("pos"),
    )
    rows = v.join(pos, "rgd_id")

    # J17: rs-id resolution from dbSNP by (chr, pos, ref, alt).
    # NO broadcast hint: production dbSNP is fact-sized (~1e9 rows —
    # see add_rs_ids' scale note below), so a forced broadcast would
    # OOM the driver at scale. Plain hash join; AQE broadcasts at
    # runtime when the actual table fits under the threshold.
    if db_snp is not None:
        snp = db_snp.select(
            F.col("chromosome").alias("chr"),
            F.col("position").alias("pos"),
            F.col("ref_allele").alias("ref_nuc"),
            F.col("allele").alias("var_nuc"),
            F.col("snp_name").alias("_snp"),
        )
        rows = rows.join(
            snp, ["chr", "pos", "ref_nuc", "var_nuc"], "left"
        ).withColumn("rs_id", F.coalesce("rs_id", "_snp")).drop("_snp")

    # J18/F18/W6: padding bases + SNV reference check. Insertions pad
    # with the base AT the start position (Clinvar2Vcf.java:226); the
    # deletion padding base is the one BEFORE the deleted run, so a
    # second lookup joins ref_bases shifted to pos-1
    # (Clinvar2Vcf.java:244 getBase(chr, startPos-1)).
    if ref_bases is not None:
        rb = ref_bases.select(
            F.col("chromosome").alias("chr"),
            F.col("position").alias("pos"),
            F.col("base").alias("_pad"),
        )
        rb_prev = ref_bases.select(
            F.col("chromosome").alias("chr"),
            (F.col("position") + 1).alias("pos"),
            F.col("base").alias("_pad_prev"),
        )
        # ref_bases is per-position genome bases — fact-sized in
        # production (3e9 positions), same no-hint policy as db_snp
        rows = rows.join(rb, ["chr", "pos"], "left").join(
            rb_prev, ["chr", "pos"], "left"
        )
    else:
        rows = rows.withColumn("_pad", F.lit(None).cast("string")).withColumn(
            "_pad_prev", F.lit(None).cast("string")
        )

    # F18: single-base variants whose declared ref mismatches the
    # genome (Clinvar2Vcf.java:188-190), and the bad-ref guards
    # (Clinvar2Vcf.java:232-234, 250-251): an insertion carrying a
    # declared ref, or a deletion carrying a declared var, is
    # malformed. The reference flags hasBadRef for the first two and
    # RAISES on the deletion case; this plan deliberately drops all
    # three row classes instead of failing the 100 TB job on one
    # corrupt record — the deviation is observable via the drop
    # counters clinvar2vcf_export returns (never silent).
    snv_mismatch = (
        (F.col("vt") == "single nucleotide variant")
        & F.col("_pad").isNotNull()
        & (F.col("ref_nuc") != F.col("_pad"))
    )
    ins_bad = (
        (F.col("vt") == "insertion")
        & F.col("ref_nuc").isNotNull()
        & (F.col("ref_nuc") != "-")
    )
    del_bad = (
        (F.col("vt") == "deletion")
        & F.col("var_nuc").isNotNull()
        & ~F.col("var_nuc").startswith("-")
    )
    return rows.withColumn(
        "_drop_reason",
        F.when(snv_mismatch, "SNV_REF_MISMATCH")
        .when(ins_bad, "INSERTION_BAD_REF")
        .when(del_bad, "DELETION_BAD_VAR"),
    )


def add_rs_ids(
    variants: DataFrame,
    map_positions: DataFrame,
    db_snp: DataFrame,
) -> DataFrame:
    """Position-based rs lookup (Clinvar2Vcf.java:420-448 getRsIs):
    resolve each variant's rs id from dbSNP by (chr, pos, ref, alt)
    on its GRCh38 position and write it onto the variant row — only
    rows whose stored value differs change, the W7 no-op-downgrade
    rule. (The --addRsIds CLI mode uses ``assign_rs_from_xdb`` below,
    which is the reference's VariantRsId pipeline; this positional
    variant backs the VCF-export path and the ``--dbsnp`` extension.)

    Returns the variants frame with an ``rs_id`` column (added or
    updated), exactly one row per input variant row: rs candidates
    are aggregated per rgd_id (min snp_name) BEFORE joining onto
    variants, so a variant with multiple GRCh38 placements cannot
    fan out into duplicate snapshot rows.

    Scale: both join sides are fact-sized in production (every
    variant's position; dbSNP has ~1e9 rows), so the position join is
    a plain hash join — AQE broadcasts whichever side turns out
    dim-sized at runtime; the per-rgd_id aggregate then shuffles only
    (rgd_id, snp) pairs, and the final join co-partitions on the
    variant key."""
    pos = map_positions.filter(F.col("map_key") == GRCH38_MAP_KEY).select(
        "rgd_id",
        F.col("chromosome").alias("_chr"),
        F.col("start_pos").alias("_pos"),
    )
    snp = (
        db_snp.select(
            F.col("chromosome").alias("_schr"),
            F.col("position").alias("_spos"),
            F.col("ref_allele").alias("_sref"),
            F.col("allele").alias("_svar"),
            F.col("snp_name").alias("_snp"),
        )
        .groupBy("_schr", "_spos", "_sref", "_svar")
        .agg(F.min("_snp").alias("_snp"))
    )
    v = (
        variants
        if "rs_id" in variants.columns
        else variants.withColumn("rs_id", F.lit(None).cast("string"))
    )
    # rs candidate per variant: join positions (not variants) to dbSNP,
    # then collapse to one row per rgd_id — a multi-placement variant
    # contributes several candidate rows here but exactly one survives
    # the min() aggregate, so the variants join below cannot fan out.
    alleles = v.select("rgd_id", "ref_nuc", "var_nuc")
    cand = (
        alleles.join(pos, "rgd_id")
        .join(
            snp,
            (F.col("_chr") == F.col("_schr"))
            & (F.col("_pos") == F.col("_spos"))
            & (F.col("ref_nuc") == F.col("_sref"))
            & (F.col("var_nuc") == F.col("_svar")),
        )
        .groupBy("rgd_id")
        .agg(F.min("_snp").alias("_snp"))
    )
    joined = v.join(cand, "rgd_id", "left")
    return joined.withColumn("rs_id", F.coalesce("_snp", "rs_id")).drop("_snp")


DBSNP_XDB_KEY = 48


def assign_rs_from_xdb(variants: DataFrame, xdb_ids: DataFrame) -> DataFrame:
    """--addRsIds (Manager.java --addRsIds -> VariantRsId.run,
    VariantRsId.java:21-60): resolve each variant's rs id from its own
    dbSNP xdb entries — xdb_key 48, link_text starting ``rs`` — and
    update the variant row only where the stored value differs
    (Utils.stringsAreEqual guard, VariantRsId.java:39). The reference
    applies the first differing xdb in DAO list order and then locks
    the rgd_id; that order is unspecified SQL result order, so this
    plan picks min(link_text) per rgd_id for determinism.

    Returns the variants frame with ``rs_id`` added/updated, one row
    per input row. Scale: xdb_ids is filtered to one key and an
    ``rs`` prefix before the join (predicate pushdown to the snapshot
    scan), then collapsed to one candidate per rgd_id — the join onto
    variants moves only (rgd_id, rs) pairs and co-partitions on the
    snapshot key."""
    v = (
        variants
        if "rs_id" in variants.columns
        else variants.withColumn("rs_id", F.lit(None).cast("string"))
    )
    # The reference skips candidates EQUAL to the stored value and
    # applies the first differing one (VariantRsId.java:39
    # stringsAreEqual guard inside the xdb loop) — so the differing
    # filter must run BEFORE the per-key pick: min() over all
    # candidates would suppress a legitimate update whenever the
    # lexicographic min happens to equal the stored rs.
    rs_cand = xdb_ids.filter(
        (F.col("xdb_key") == DBSNP_XDB_KEY)
        & F.col("link_text").startswith("rs")
    ).select("rgd_id", "link_text")
    cand = (
        rs_cand.join(v.select("rgd_id", "rs_id"), "rgd_id")
        .filter(~F.col("link_text").eqNullSafe(F.col("rs_id")))
        .groupBy("rgd_id")
        .agg(F.min("link_text").alias("_rs_new"))
    )
    joined = v.join(cand, "rgd_id", "left")
    return joined.withColumn(
        "rs_id", F.coalesce("_rs_new", "rs_id")
    ).drop("_rs_new")


def _drop_counters_of(flagged: DataFrame) -> DataFrame:
    return (
        flagged.filter(F.col("_drop_reason").isNotNull())
        .groupBy(F.col("_drop_reason").alias("counter"))
        .agg(F.count(F.lit(1)).alias("value"))
    )


def clinvar2vcf_export(
    variants: DataFrame,
    map_positions: DataFrame,
    db_snp: DataFrame | None = None,
    ref_bases: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(lines, drop_counters) sharing ONE persisted flagged-rows frame,
    so the join/check pipeline runs once for both outputs. ``lines``
    holds (chr, pos, line) data lines ready for ``write_vcf``;
    ``drop_counters`` holds (counter, value) rows counting the bad-ref
    / ref-mismatch drops, the observable twin of the reference's
    hasBadRef flags and the Clinvar2Vcf.java:251 RuntimeException.

    ``variants`` needs (rgd_id, object_type, ref_nuc, var_nuc);
    ``map_positions`` (rgd_id, map_key, chromosome, start_pos,
    stop_pos); ``db_snp`` (chromosome, position, ref_allele, allele,
    snp_name) optional rs-id source; ``ref_bases`` (chromosome,
    position, base) optional reference-base table for the F18 check
    and W6 padding. The persist is registered with
    caching.register_persist; the caller releases after both outputs
    materialize (cli.cmd_clinvar2vcf does)."""
    from clinvar_pipeline_spark.caching import register_persist

    flagged = register_persist(
        _flagged_rows(variants, map_positions, db_snp, ref_bases)
    )
    return _lines_of(flagged), _drop_counters_of(flagged)


def _lines_of(flagged: DataFrame) -> DataFrame:
    rows = flagged.filter(F.col("_drop_reason").isNull())

    pad_ins = F.coalesce("_pad", F.lit("N"))
    pad_del = F.coalesce("_pad_prev", F.lit("N"))
    norm = rows.select(
        "chr",
        "pos",
        F.coalesce("rs_id", F.lit(".")).alias("rs"),
        "vt",
        F.when(F.col("vt") == "insertion", pad_ins)
        .when(
            F.col("vt") == "deletion",
            F.concat(pad_del, F.coalesce("ref_nuc", F.lit(""))),
        )
        .otherwise(F.col("ref_nuc"))
        .alias("ref"),
        F.when(
            F.col("vt") == "insertion",
            F.concat(pad_ins, F.coalesce("var_nuc", F.lit(""))),
        )
        .when(F.col("vt") == "deletion", pad_del)
        .otherwise(F.col("var_nuc"))
        .alias("alt"),
    )

    grouped = norm.groupBy("chr", "pos", "rs", "vt").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_set(F.coalesce("ref", F.lit("-"))))
        ).alias("ref_m"),
        F.concat_ws(
            ",", F.array_sort(F.collect_set(F.coalesce("alt", F.lit("-"))))
        ).alias("alt_m"),
    )
    # F17: skip lines where merged ref and alt are both multi-char
    guarded = grouped.filter(
        ~((F.length("ref_m") > 1) & (F.length("alt_m") > 1))
    )
    return guarded.select(
        "chr",
        "pos",
        F.concat_ws(
            "\t",
            "chr",
            F.col("pos").cast("string"),
            "rs",
            "ref_m",
            "alt_m",
            F.lit("."),
            F.lit("."),
            F.lit("."),
        ).alias("line"),
    )
