"""VCF text sink (S9, Clinvar2Vcf.java:73-174): fixed header lines +
genome-sorted tab-joined data lines written as a single text file.

The reference string-builds the file in memory; here the data lines
stay distributed until the final single-file coalesce (VCF is a
single-file format — the one place a width-1 write is the contract,
not a bottleneck: everything upstream ran at full parallelism and the
sort is a distributed range partition whose partitions coalesce in
order)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinvar_pipeline_spark.session import rows_frame

VCF_HEADER = [
    "##fileformat=VCFv4.2",
    '##INFO=<ID=RGD,Number=1,Type=String,Description="RGD variant rgd id">',
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
]


def vcf_text(lines: DataFrame, header: list[str] | None = None) -> DataFrame:
    """The VCF file's text, one ``line`` column: the header rows, then
    ``lines``' pre-rendered data lines (columns chr, pos, line — see
    queries_domain.q_vcf_export for the render) sorted by (chr
    lexicographic, pos numeric) per O1 (Clinvar2Vcf.java:137-167);
    header rows sort first via the grp key. orderBy produces
    range-partitioned sorted output whose partitions coalesce in order."""
    hdr = rows_frame(
        lines.sparkSession,
        [(0, i, None, h) for i, h in enumerate(header or VCF_HEADER)],
        "grp int, pos long, chr string, line string",
    )
    data = lines.select(
        F.lit(1).alias("grp"), F.col("pos").cast("long"), F.col("chr"), F.col("line")
    )
    return hdr.unionByName(data).orderBy("grp", "chr", "pos").select("line")


def write_vcf(lines: DataFrame, path: str, header: list[str] | None = None) -> None:
    """Write :func:`vcf_text` as a single, globally ordered text file."""
    vcf_text(lines, header).coalesce(1).write.mode("overwrite").text(path)
