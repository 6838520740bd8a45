"""SparkSession factory with engine defaults.

Defaults are chosen for correctness-at-scale first:
- AQE on (runtime partition coalescing + skew-join splitting), so the
  same declarative plans survive a 100x scale-up without re-tuning.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are cluster-location-independent.
- Arrow enabled for the few pandas-UDF operators (embedding, hash and
  codec kernels) — everything else stays JVM-side.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target
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
    """A DataFrame of a few driver-side rows (counters, lookup maps,
    header lines), shipped to the JVM as one Arrow table: a local
    relation, empty or not. ``createDataFrame`` on a Python list (or on
    an empty pandas frame) instead plans a Python map over a
    parallelized RDD: a Python-worker job each time the frame is
    computed."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def run_concurrently(spark: SparkSession, *thunks: Callable[[], Any]) -> list[Any]:
    """Run independent driver actions at the same time; return their
    results in argument order.

    Each thunk gets its own driver thread, so the pool is exactly as
    wide as the number of independent actions: the scheduler, not the
    caller, decides how their tasks share the cores. Each thread
    inherits the caller's local properties (job group, description,
    call site) and session tags, so the jobs it submits are labelled
    and cancellable like the caller's own. A failure is re-raised only
    after every thunk has finished — no action is left running behind
    the caller's back — and the first failure in argument order wins.
    """
    # leaving the block waits for every thunk
    with ThreadPoolExecutor(max_workers=max(len(thunks), 1)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    return [f.result() for f in futures]
