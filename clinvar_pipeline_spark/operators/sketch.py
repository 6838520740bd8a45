"""Approximate aggregates (SURVEY §7.2 step 7): sketch-based quantiles
for 100 TB-scale profiling, where exact answers cost a full shuffle of
every distinct value.

The fixed-bin histogram sketch below merges fixed-size register state
at the reducers — shuffle volume is O(groups * bins), independent of
cardinality — and, unlike Spark's engine-private ``percentile_approx``
state, DuckDB recomputes it bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------
# Engine-portable fixed-bin histogram quantile sketch
# ---------------------------------------------------------------------

HIST_BINS = 1024


def value_histogram(
    df: DataFrame,
    key_col: str,
    value_col: str,
    vmin: float,
    vmax: float,
) -> DataFrame:
    """(key, bin, c) — the MERGEABLE register frame of the quantile
    sketch: fixed ``HIST_BINS`` equal-width bins over the FROZEN
    [vmin, vmax] domain, so two shards' frames ADD-merge into the
    union's frame exactly (the HLL-register/Count-Min-cell discipline
    applied to quantiles — Spark's own percentile_approx sketch state
    is engine-private; this one DuckDB recomputes bit-for-bit).

    Out-of-domain values (possible only for post-freeze arrivals on
    the streaming path) clamp into the edge bins — counted, never
    dropped; the bin expression is floor of one IEEE quotient,
    identical text both engines."""
    span = F.lit(vmax) - F.lit(vmin)
    b = F.floor(
        (F.col(value_col) - F.lit(vmin)) * F.lit(float(HIST_BINS)) / span
    )
    b = F.least(F.greatest(b, F.lit(0)), F.lit(HIST_BINS - 1)).cast("long")
    return (
        df.select(F.col(key_col).alias("key"), b.alias("bin"))
        .groupBy("key", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def quantiles_from_histogram(
    hist: DataFrame,
    vmin: float,
    vmax: float,
    quantiles: Sequence[tuple[str, float]] = (
        ("p50", 0.5),
        ("p90", 0.9),
        ("p99", 0.99),
    ),
) -> DataFrame:
    """Per-key quantile BRACKETS from the register frame: for each q
    the smallest bin whose running count reaches ceil(q·n), emitted
    with its [lo, hi) value bounds — the true quantile provably lies
    inside (error ≤ one bin width, (vmax−vmin)/HIST_BINS).

    Scale: the frame is ≤ keys × HIST_BINS rows at ANY input size;
    windows run per key over ≤1024-row frames."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("key")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "key",
        "bin",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy("key")).alias("n"),
    )
    qs = F.explode(
        F.array(
            *[
                F.struct(F.lit(lbl).alias("q_label"), F.lit(q).alias("q"))
                for lbl, q in quantiles
            ]
        )
    ).alias("qq")
    j = cum.select("key", "bin", "cum", "n", qs).select(
        "key",
        "bin",
        "cum",
        "n",
        F.col("qq.q_label").alias("q_label"),
        F.ceil(F.col("qq.q") * F.col("n")).alias("k"),
    )
    span = F.lit(vmax) - F.lit(vmin)
    pick = (
        j.filter(F.col("cum") >= F.col("k"))
        .groupBy("key", "q_label")
        .agg(
            F.min("n").alias("n"),
            F.min("k").alias("k"),
            F.min("bin").alias("bin"),
        )
    )
    return pick.select(
        "key",
        "q_label",
        "n",
        "k",
        "bin",
        (F.lit(vmin) + F.col("bin") * span / F.lit(float(HIST_BINS))).alias(
            "lo"
        ),
        (
            F.lit(vmin)
            + (F.col("bin") + F.lit(1)) * span / F.lit(float(HIST_BINS))
        ).alias("hi"),
    )
