"""Sorted-set string semantics as Catalyst expressions.

The reference's signature type is the "pipe-set": a ``|``-joined,
lexicographically sorted, deduplicated set of strings (TreeSet contract,
Record.java:96-143, QC.java:112-142). Internally the engine keeps these
as ``ArrayType(StringType)`` and only serializes at the storage
boundary; these helpers implement both representations and the merge
algebra over them. All expressions are JVM-side (no UDFs) so they stay
inside whole-stage codegen.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

from clinvar_pipeline_spark.config import (
    CLINSIG_RANK,
    CLINSIG_UNKNOWN_RANK,
)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def pipe_to_array(col: Column | str, sep: str = "\\|") -> Column:
    """``'b|a|b'`` → ``['b','a','b']``; null/'' → ``[]``.

    Inverse of :func:`array_to_pipe` up to sort/dedup.
    """
    c = _col(col)
    return F.array_remove(F.split(F.coalesce(c, F.lit("")), sep), "")


def array_to_pipe(col: Column | str, joiner: str = "|") -> Column:
    """Serialize an array as the canonical sorted deduped pipe-set
    string (TreeSet contract: sort + dedup is part of the output
    contract, SURVEY O2)."""
    c = _col(col)
    return F.concat_ws(joiner, F.array_sort(F.array_distinct(c)))


def merge_pipe_sets(a: Column | str, b: Column | str) -> Column:
    """Pipe-set union (M1, Record.java:96-143): split both sides, union,
    dedup, sort, rejoin. Null-safe on either side."""
    return array_to_pipe(F.concat(pipe_to_array(a), pipe_to_array(b)))


def merge_pipe_sets_ci(incoming: Column | str, existing: Column | str) -> Column:
    """Case-insensitive field merge (M3, QC.java:54-94,112-142).

    Semantics: occurrences in *existing* that equal an *incoming* value
    case-insensitively are replaced by the incoming spelling; the result
    is the sorted union. Implemented as: index incoming by lower(),
    rewrite existing elements through that index, union, dedup, sort.
    """
    inc = pipe_to_array(incoming)
    ex = pipe_to_array(existing)
    # existing element survives unless an incoming element matches it
    # case-insensitively (incoming spelling wins).
    ex_kept = F.filter(
        ex,
        lambda e: ~F.exists(inc, lambda i: F.lower(i) == F.lower(e)),
    )
    return array_to_pipe(F.concat(inc, ex_kept))


def ranked_sort(
    arr: Column,
    rank_map: Mapping[str, int],
    unknown_rank: int = CLINSIG_UNKNOWN_RANK,
) -> Column:
    """Sort an array of strings by (rank, value) where rank comes from a
    literal lookup map (unknown values get ``unknown_rank``).

    JVM-side: each element becomes ``struct(rank, value)``, sorted with
    ``array_sort`` (struct sort is lexicographic on fields), then
    projected back. No UDF, no shuffle.
    """
    mapping = F.create_map(
        *[F.lit(x) for kv in rank_map.items() for x in kv]
    )
    keyed = F.transform(
        arr,
        lambda v: F.struct(
            F.coalesce(mapping[F.lower(v)], F.lit(unknown_rank)).alias("r"),
            v.alias("v"),
        ),
    )
    return F.transform(F.array_sort(keyed), lambda s: s["v"])


def ranked_clinsig_merge(
    a: Column | str,
    b: Column | str,
    rank_map: Mapping[str, int] | None = None,
) -> Column:
    """Clinical-significance ranked merge (M4, QC.java:145-224).

    Both sides are split on ``[,;|/]``, trimmed, unioned as a set, then
    ordered by the 29-entry severity rank (pathogenic first, 'not
    provided' last, unknowns in between) and rejoined with ``|``.
    """
    rm = rank_map or CLINSIG_RANK
    split_re = "[,;|/]"

    def explode_side(c: Column | str) -> Column:
        vals = F.split(F.coalesce(_col(c), F.lit("")), split_re)
        return F.array_remove(F.transform(vals, lambda v: F.trim(v)), "")

    merged = F.array_distinct(F.concat(explode_side(a), explode_side(b)))
    # dedup case-insensitively keeping first spelling: key by lower()
    dedup = F.array_distinct(F.transform(merged, lambda v: F.lower(v)))
    return F.concat_ws("|", ranked_sort(dedup, {k: v for k, v in rm.items()}))


def pipe_set_agg(col: Column | str, joiner: str = "|") -> Column:
    """Grouped pipe-set aggregate (M6-M8 pattern): collect values across
    a group, split each on ``|``, flatten, dedup, sort, rejoin.

    Use inside ``groupBy(...).agg(...)``. Map-side partial aggregation
    applies (collect_set combines partially per partition), so this
    scales: the shuffle carries deduped sets, not raw rows.
    """
    c = _col(col)
    flattened = F.flatten(F.collect_set(pipe_to_array(c)))
    return F.concat_ws(joiner, F.array_sort(F.array_distinct(flattened)))


def newer_date(a: Column | str, b: Column | str) -> Column:
    """Last-evaluated-date resolution (M5, QC.java:96-110): keep the
    newer non-null date."""
    ca, cb = _col(a), _col(b)
    return F.when(ca.isNull(), cb).when(cb.isNull(), ca).otherwise(F.greatest(ca, cb))
