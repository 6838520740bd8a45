"""register_persist leaves the persist lazy; release_cached drops every
registered frame."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from clinvar_pipeline_spark.caching import register_persist, release_cached


def _touch_counter(spark, df):
    """Wrap df so every row evaluation bumps an accumulator."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        acc.add(1)
        return x

    return df.select(bump(F.col("id")).alias("id")), acc


def test_lazy_by_default(spark):
    release_cached()  # start from an empty registry
    df, acc = _touch_counter(spark, spark.range(7))
    out = register_persist(df)
    assert acc.value == 0  # no materialization job ran
    assert out.storageLevel != StorageLevel.NONE
    assert out.count() == 7
    assert acc.value > 0
    assert release_cached() == 1
    assert out.storageLevel == StorageLevel.NONE
