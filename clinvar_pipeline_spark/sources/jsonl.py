"""JSONL document source/sink — the interchange format pretraining
corpora actually ship in (one JSON object per line).

Read path: schema-enforced (never inferred — a 100 TB inference pass
is a second full scan), PERMISSIVE mode with the corrupt-record
column surfaced, so malformed lines become COUNTED drops instead of
job failures or silent nulls — the VCF drop-counter discipline
(plans/vcf.py) applied to ingest.

Write path: explicit ``to_json(struct(...))`` over a text sink, which
keeps the column order deterministic (Spark's native json writer
follows the schema too, but the explicit struct makes the line format
part of the code contract, not the writer's behavior).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCUMENT_FIELDS = "doc_id long, text string, lang string, source string"
_CORRUPT = "_corrupt_record"


def read_documents_jsonl(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """(valid_docs, counters): schema-enforced JSONL read; lines that
    fail to parse land in the corrupt-record column and are counted,
    not propagated. counters is a 2-row (counter, value) frame
    (DOCS_GOOD / DOCS_CORRUPT), the ingest twin of the run counters."""
    raw = (
        spark.read.schema(f"{DOCUMENT_FIELDS}, {_CORRUPT} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .json(path)
    )
    # caching note: PERMISSIVE corrupt-record reads require touching
    # the corrupt column together with the data columns in one pass;
    # tracked in the session persist registry so release_cached()
    # frees it between runs (caching.py discipline)
    from clinvar_pipeline_spark.caching import register_persist

    raw = register_persist(raw)
    good = raw.filter(F.col(_CORRUPT).isNull()).drop(_CORRUPT)
    counters = raw.groupBy(
        F.when(F.col(_CORRUPT).isNull(), "DOCS_GOOD")
        .otherwise("DOCS_CORRUPT")
        .alias("counter")
    ).agg(F.count(F.lit(1)).alias("value"))
    return good, counters


def write_documents_jsonl(df: DataFrame, path: str) -> None:
    """Documents -> JSONL directory (one object per line, column order
    fixed by the struct)."""
    cols = [c for c in df.columns]
    df.select(
        F.to_json(F.struct(*[F.col(c) for c in cols])).alias("line")
    ).write.mode("overwrite").text(path)
