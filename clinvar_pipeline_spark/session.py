"""SparkSession factory with engine defaults.

Defaults are chosen for correctness-at-scale first:
- AQE on (runtime partition coalescing + skew-join splitting), so the
  same declarative plans survive a 100x scale-up without re-tuning.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are cluster-location-independent.
- Arrow enabled for the few pandas-UDF operators (byte-budget trim,
  width packing, embedding kernels) — everything else stays JVM-side.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(
    app_name: str = "clinvar-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    In production this runs on a real cluster (``master`` unset, taken
    from spark-submit); locally it defaults to ``local[N]`` with
    N = $SPARK_GRAFT_CPUS or all cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # collect_set/collect_list aggregations (the pipe-set merges,
        # allele grouping, annot merges) run under ObjectHashAggregate,
        # whose default sort-based fallback kicks in at 128 distinct
        # keys per partition — pathological for high-cardinality
        # grouped set-aggs (measured 2x on the VCF allele merge). 1M
        # entries of short-string sets stays well inside executor
        # memory; the sort-based path remains the overflow safety
        # valve beyond that.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            "1048576",
        )
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long, converted in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def rows_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: StructType | str
) -> DataFrame:
    """A DataFrame of a few driver-side rows (counters), shipped to the
    JVM through Arrow. ``createDataFrame`` on a Python list instead
    plans a Python map over a parallelized RDD: a Python-worker job
    each time the frame is computed."""
    import pandas as pd

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(pd.DataFrame(list(rows), columns=schema.names), schema)
