"""Text expressions: term-name normalization, UTF-8 byte-budget
truncation and width-bucketed packing. All three are plain Catalyst
expressions (SURVEY §2.8): the trim cuts the UTF-8 encoding with a
binary ``substring`` and backs off to the last whole character with
``is_valid_utf8``; the packer is one ``aggregate`` fold over the sorted
elements. Their Python reference implementations, which the tests
compare them against, live in functions/text_oracle.py."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clinvar_pipeline_spark.config import TRIM_SUFFIX


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_term_key(name: Column | str) -> Column:
    """Normalized term-match key (J11, TermNameMatcher.java:135-150):
    lowercase, strip ``-,()/`` to spaces, split on whitespace, **sort
    the words**, join with ``.``. Used as an equi-join key against the
    ontology index, turning fuzzy name matching into a hash join."""
    c = _col(name)
    words = F.split(
        F.trim(F.regexp_replace(F.lower(c), "[-,()/]", " ")), "\\s+"
    )
    return F.concat_ws(".", F.array_sort(F.array_remove(words, "")))


# ---------------------------------------------------------------------------
# UTF-8 byte-budget truncation (M9, Manager.java:148-183, Dao.java:157-209).
#
# Oracle VARCHAR2(4000 BYTE) parity: a string whose UTF-8 encoding
# exceeds `budget` bytes is cut (never splitting a multibyte sequence)
# so that trimmed + " ..." fits in `budget`, and " ..." is appended to
# signal truncation.
# ---------------------------------------------------------------------------

_SUFFIX_BYTES = len(TRIM_SUFFIX.encode("utf-8"))


def _keep_bytes(budget: int) -> int:
    """Bytes of the original string an over-budget value keeps."""
    if budget < _SUFFIX_BYTES:
        raise ValueError(
            f"byte budget {budget} is below the {_SUFFIX_BYTES}-byte"
            f" truncation suffix {TRIM_SUFFIX!r}"
        )
    return budget - _SUFFIX_BYTES


def byte_trim(col: Column | str, budget: int) -> Column:
    """Column expression form of the byte-budget trim. A row within
    budget passes through unchanged; ``CASE WHEN`` evaluates the cut
    only for rows over it. The cut takes the first ``keep`` bytes of
    the UTF-8 encoding and, when that splits a character, backs off one
    byte at a time: a character is at most 4 bytes, so one of ``keep``,
    ``keep - 1``, ``keep - 2``, ``keep - 3`` ends on a character
    boundary, and the longest such prefix is the one kept. Raises
    ``ValueError`` when ``budget`` cannot hold the suffix."""
    keep = _keep_bytes(budget)
    c = _col(col)
    raw = F.encode(c, "utf-8")
    cuts = [F.substring(raw, 1, keep - k).cast("string") for k in range(4)]
    body = F.when(F.is_valid_utf8(cuts[0]), cuts[0])
    for cut in cuts[1:3]:
        body = body.when(F.is_valid_utf8(cut), cut)
    body = body.otherwise(cuts[3])
    return F.when(F.octet_length(c) <= F.lit(budget), c).otherwise(
        F.concat(body, F.lit(TRIM_SUFFIX))
    )


# ---------------------------------------------------------------------------
# Width-bucketed packing (A3, AnnotCache.java:136-167,213-244).
#
# A merged sorted set whose `|`-joined serialization would exceed a
# width is split into multiple rows, each row's serialization ≤ width.
# The reference splits the *sorted joined string* at the last '|'
# before the limit — i.e. greedy left-to-right packing of sorted
# elements. Deterministic: same input set → same buckets. Lengths are
# counted in characters.
# ---------------------------------------------------------------------------

_JOINER = "|"


def pack_width_buckets(col: Column | str, width: int) -> Column:
    """array<string> → array<array<string>>: greedy packing of the
    sorted deduped elements into buckets whose ``|``-joined length is
    ≤ ``width``; an element longer than ``width`` gets a bucket of its
    own. ``[[]]`` for an empty array, null for a null one; elements
    must be non-null. Explode the result to materialize the split rows.

    A set whose joined form fits is returned as its one bucket. Any
    other runs one ``aggregate`` fold whose state is the finished
    buckets, the open bucket and the open bucket's joined length."""
    elems = F.sort_array(F.array_distinct(_col(col)))
    start = F.struct(
        F.array().cast("array<array<string>>").alias("done"),
        F.array().cast("array<string>").alias("cur"),
        F.lit(0).alias("n"),
    )

    def step(acc: Column, e: Column) -> Column:
        n = F.length(e)
        grown = acc["n"] + len(_JOINER) + n
        empty = F.size(acc["cur"]) == 0
        full = ~empty & (grown > width)
        return F.struct(
            F.when(full, F.concat(acc["done"], F.array(acc["cur"])))
            .otherwise(acc["done"])
            .alias("done"),
            F.when(full, F.array(e)).otherwise(F.concat(acc["cur"], F.array(e))).alias("cur"),
            F.when(full | empty, n).otherwise(grown).alias("n"),
        )

    packed = F.aggregate(
        elems, start, step, lambda acc: F.concat(acc["done"], F.array(acc["cur"]))
    )
    return F.when(
        F.length(F.array_join(elems, _JOINER)) <= width, F.array(elems)
    ).otherwise(packed)

