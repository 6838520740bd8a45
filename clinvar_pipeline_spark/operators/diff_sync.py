"""Generic diff-sync: classify incoming vs existing rows into
INSERT / UPDATE / UNCHANGED / DELETE — the snapshot-functional form of
the reference's row-at-a-time upsert write path (J10, Loader.java:29-49,
Dao.java:218-248; reused for every satellite sync J3-J7).

Scale notes:
- One full outer join on the key columns; both sides shuffle once on
  the same key, so co-partitioning is preserved for any downstream
  per-key work.
- Change detection is a row fingerprint (md5 over normalized compare
  columns) computed map-side — the join carries two fingerprint
  columns, not wide row comparisons.
- No driver state, no collect: classification is a column, so the
  insert/update/delete row-sets are ordinary filtered DataFrames and
  counters are one groupBy away.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHANGE_COL = "change_type"
INSERT, UPDATE, UNCHANGED, DELETE = "INSERT", "UPDATE", "UNCHANGED", "DELETE"

_NULL_SENTINEL = "\x00"


def row_fingerprint(cols: Sequence[str]) -> F.Column:
    """md5 fingerprint over columns, null-distinguishing (NULL != '')."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL)) for c in cols
    ]
    return F.md5(F.concat_ws("\x01", *parts))


def diff_sync(
    incoming: DataFrame,
    existing: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Return one row per key present on either side, with
    ``change_type`` ∈ {INSERT, UPDATE, UNCHANGED, DELETE}, incoming
    values in their original column names (for DELETE rows, the
    existing values), and existing values as ``old_<col>``.

    ``compare_cols`` defaults to all non-key columns shared by both
    sides. UPDATE = key on both sides and fingerprint differs.
    """
    key_cols = list(key_cols)
    if compare_cols is None:
        shared = set(incoming.columns) & set(existing.columns)
        compare_cols = [c for c in incoming.columns if c in shared and c not in key_cols]
    compare_cols = list(compare_cols)

    inc = incoming.withColumn("_fp_new", row_fingerprint(compare_cols)).withColumn(
        "_present_new", F.lit(True)
    )
    ex = (
        existing.withColumn("_fp_old", row_fingerprint(compare_cols))
        .withColumn("_present_old", F.lit(True))
        .select(
            *key_cols,
            "_fp_old",
            "_present_old",
            *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        )
    )

    # null-safe key equality: a null key component is a legitimate value
    # (e.g. with_info on variant-level annotations) and must match its
    # counterpart, not fracture into INSERT+DELETE pairs
    ex_k = ex.select(
        *[F.col(c).alias(f"_k_{c}") for c in key_cols],
        *[c for c in ex.columns if c not in key_cols],
    )
    cond = None
    for c in key_cols:
        eq = F.col(c).eqNullSafe(F.col(f"_k_{c}"))
        cond = eq if cond is None else cond & eq
    joined = inc.join(ex_k, on=cond, how="full_outer").select(
        *[F.coalesce(F.col(c), F.col(f"_k_{c}")).alias(c) for c in key_cols],
        *[c for c in inc.columns if c not in key_cols],
        *[c for c in ex_k.columns if not c.startswith("_k_")],
    )
    change = (
        F.when(F.col("_present_old").isNull(), F.lit(INSERT))
        .when(F.col("_present_new").isNull(), F.lit(DELETE))
        .when(F.col("_fp_new") != F.col("_fp_old"), F.lit(UPDATE))
        .otherwise(F.lit(UNCHANGED))
    )
    out_cols = (
        key_cols
        + [
            # DELETE rows have no incoming values: surface old values.
            # Branch on row presence, NOT coalesce on the value — an
            # incoming NULL is a legitimate value and must not fall
            # back to the existing one (NULL != '' in the fingerprint,
            # so the pair classifies UPDATE and must carry NULL out)
            F.when(F.col("_present_new").isNotNull(), F.col(c))
            .otherwise(F.col(f"old_{c}"))
            .alias(c)
            for c in compare_cols
        ]
        + [F.col(f"old_{c}") for c in compare_cols]
        + [change.alias(CHANGE_COL)]
    )
    return joined.select(*out_cols)


def apply_diff(diff: DataFrame, key_cols: Sequence[str], compare_cols: Sequence[str]) -> DataFrame:
    """Materialize the next snapshot from a diff: keep INSERT/UPDATE/
    UNCHANGED rows with incoming values; drop DELETEs. Together with
    `diff_sync` this satisfies apply(diff(new, old), old) == new."""
    return diff.filter(F.col(CHANGE_COL) != DELETE).select(
        *key_cols, *compare_cols
    )
