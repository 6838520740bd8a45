"""CSV source with a quarantine lane — the generic delimited-file
front door next to the JSONL/WARC corpus ingests.

Same discipline as sources/jsonl.py: schema ENFORCED (never inferred
— inference is a second full scan at 100 TB), PERMISSIVE mode with
the corrupt-record column surfaced, so malformed rows become a
COUNTED quarantine frame (raw line preserved for repair/replay)
instead of job failures or silent nulls. The quarantine lane is what
separates a production connector from `spark.read.csv(path)`: bad
rows are data about the feed, not noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CORRUPT = "_corrupt_record"


def read_csv_quarantined(
    spark: SparkSession,
    path: str,
    schema: str,
    sep: str = ",",
    header: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(good, quarantine, counters).

    - ``good``: rows matching ``schema`` exactly (corrupt column null);
    - ``quarantine``: (raw_line) — the ORIGINAL malformed text, kept
      for repair-and-replay (a row is malformed when it fails to
      parse OR has the wrong column count under PERMISSIVE mode);
    - ``counters``: 2-row (counter, value) frame, ROWS_GOOD /
      ROWS_QUARANTINED — the VCF drop-counter discipline applied to
      ingest.

    Scale: one pass, schema applied at scan time (pushdown-friendly);
    the persist is registered with the session cache registry so
    release_cached() reclaims it (PERMISSIVE corrupt-record reads
    must touch the corrupt column and data columns in one pass)."""
    from clinvar_pipeline_spark.caching import register_persist

    raw = (
        spark.read.schema(f"{schema}, {_CORRUPT} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .option("sep", sep)
        .option("header", str(header).lower())
        .option("enforceSchema", "true")
        .csv(path)
    )
    raw = register_persist(raw)
    good = raw.filter(F.col(_CORRUPT).isNull()).drop(_CORRUPT)
    quarantine = raw.filter(F.col(_CORRUPT).isNotNull()).select(
        F.col(_CORRUPT).alias("raw_line")
    )
    counters = raw.groupBy(
        F.when(F.col(_CORRUPT).isNull(), "ROWS_GOOD")
        .otherwise("ROWS_QUARANTINED")
        .alias("counter")
    ).agg(F.count(F.lit(1)).alias("value"))
    return good, quarantine, counters
