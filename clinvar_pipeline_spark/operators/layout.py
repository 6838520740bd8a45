"""Z-order (Morton) clustered file layout — multi-dimensional data
skipping for the 100 TB scan path.

A parquet lake prunes row groups by per-file/per-row-group min/max
statistics. A layout sorted by ONE column gives that column tight
boxes and every other column the full value range in every file: a
time-sorted event table answers time probes by touching a few files
but user probes by touching all of them. Interleaving the bits of two
(or more) normalized dimensions into a single Z-order key and range-
partitioning files along it bounds EVERY interleaved dimension's span
per file — a point predicate on any clustered column prunes to
O(n_files^(1/k)) files instead of all of them. This is the layout
behind Delta/Iceberg's OPTIMIZE ZORDER BY, implemented here with
plain repartitionByRange + parquet (no table format needed).

The key expression itself is attested engine-for-engine by the
``zorder_key`` registry query (queries_warehouse.py);
tests/test_layout.py writes real files and proves the two-way pruning
from the parquet footers alone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 16


def normalize_16bit(col: Column, lo: Column, hi: Column) -> Column:
    """Min-max scale a numeric column into [0, 65535] (constant column
    → 0). floor of one IEEE quotient — the same arithmetic the
    attested zorder_key oracle spells textually."""
    return (
        F.when(hi == lo, F.lit(0))
        .otherwise(
            F.floor((col.cast("double") - lo) * F.lit(65535.0) / (hi - lo))
        )
        .cast("long")
    )


def morton_key(ub: Column, tb: Column) -> Column:
    """Interleave two 16-bit dimensions (first-arg bits land high):
    bit i of ``ub`` → bit 2i+1, bit i of ``tb`` → bit 2i."""
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        z = z + F.shiftleft(F.shiftright(ub, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        z = z + F.shiftleft(F.shiftright(tb, i).bitwiseAND(F.lit(1)), 2 * i)
    return z


def zorder_write(
    df: DataFrame,
    dims: tuple[str, str],
    path: str,
    n_files: int = 16,
) -> None:
    """Write ``df`` as ``n_files`` parquet files range-clustered on the
    Z-order key of the two ``dims`` columns (numeric or timestamp).

    Scale: two 1-row min/max aggregates, one map-only key projection,
    one range exchange (sampled boundaries — Spark's RangePartitioner,
    no global sort materialization), one write. The key column is
    dropped from the files; pruning works off each file's min/max
    stats for the ORIGINAL columns, which the Z-clustering is what
    makes tight."""
    def as_num(d: str) -> Column:
        t = df.schema[d].dataType.simpleString()
        if t.startswith("timestamp"):
            # NTZ parquet casts to session-TZ timestamp first (the _t
            # normalization); only ordering matters for the layout
            return F.unix_micros(F.col(d).cast("timestamp")).alias(d)
        return F.col(d)

    probe = df.select(*(as_num(d) for d in dims))
    b = probe.agg(
        F.min(dims[0]).alias("alo"),
        F.max(dims[0]).alias("ahi"),
        F.min(dims[1]).alias("blo"),
        F.max(dims[1]).alias("bhi"),
    ).first()
    base = df
    dim_cols = [as_num(d) for d in dims]
    zk = morton_key(
        normalize_16bit(dim_cols[0], F.lit(b["alo"]), F.lit(b["ahi"])),
        normalize_16bit(dim_cols[1], F.lit(b["blo"]), F.lit(b["bhi"])),
    )
    (
        base.withColumn("_zkey", zk)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_stats(path: str, columns: list[str]) -> list[dict[str, tuple]]:
    """Per-file (min, max) for each requested column, read from the
    parquet footers — the exact statistics a scan planner prunes by.
    Driver-side and footer-only (no data pages touched)."""
    import os

    import pyarrow.parquet as pq

    out = []
    for fn in sorted(os.listdir(path)):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fn)).metadata
        lo: dict[str, object] = {}
        hi: dict[str, object] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name not in columns or col.statistics is None:
                    continue
                s = col.statistics
                if name not in lo or s.min < lo[name]:
                    lo[name] = s.min
                if name not in hi or s.max > hi[name]:
                    hi[name] = s.max
        out.append({c: (lo.get(c), hi.get(c)) for c in columns})
    return out


def partitioned_write(df: DataFrame, partition_col: str, path: str) -> None:
    """Hive-style directory partitioning — the coarse-grained
    complement to Z-order clustering: equality/IN predicates on the
    partition column prune whole directories at PLANNING time, and
    joins against a filtered dimension prune them at RUNTIME via
    Catalyst's dynamic partition pruning (tests assert the
    DynamicPruning subquery in the physical plan). Use for
    low-cardinality columns every query filters on (day, event type);
    Z-order for high-cardinality multi-dim ranges."""
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)

