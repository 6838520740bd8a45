"""Threshold-guarded stale delete (W4/W5, Dao.java:409-436,690-729).

The reference deletes rows not touched by the current run, unless the
delete set exceeds a fraction of the original (8% xdb ids, 5%
annotations) — a mass-delete circuit breaker. Snapshot-functionally:

    stale   = existing ANTI-JOIN touched            (one shuffle)
    decide  = count(stale) / count(existing) > threshold   (driver scalar)
    result  = existing if aborted else existing MINUS stale

Both counts come from one aggregation over ``existing`` UNION ALL
``stale`` (one action, a single driver row, not a collect of data);
the branch is driver logic, exactly like the reference's — that part
is inherently control-flow.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class GuardedDeleteResult:
    kept: DataFrame
    deleted: DataFrame
    stale_count: int
    total_count: int
    aborted: bool


def guarded_stale_delete(
    existing: DataFrame,
    touched: DataFrame,
    key_cols: Sequence[str],
    threshold: float,
) -> GuardedDeleteResult:
    """Delete rows of ``existing`` whose key is absent from ``touched``,
    unless they exceed ``threshold`` fraction of existing (then abort:
    keep everything, surface the would-be deletes for the report)."""
    key_cols = list(key_cols)
    t = touched.select(
        *[F.col(c).alias(f"_t_{c}") for c in key_cols]
    ).dropDuplicates([f"_t_{c}" for c in key_cols])
    cond = None
    for c in key_cols:
        # null-safe: a null key component matches null (see diff_sync)
        eq = F.col(c).eqNullSafe(F.col(f"_t_{c}"))
        cond = eq if cond is None else cond & eq
    stale = existing.join(t, on=cond, how="left_anti")
    # one aggregation, one action: each existing row counts toward the
    # total and each stale row toward the stale count. (A left join
    # flagging touched keys counts the same, but invites Catalyst's
    # runtime bloom filter on the touched side: an extra job per guard.)
    counts = (
        existing.select(F.lit(False).alias("_stale"))
        .unionByName(stale.select(F.lit(True).alias("_stale")))
        .agg(
            F.count_if(~F.col("_stale")).alias("total"),
            F.count_if(F.col("_stale")).alias("stale"),
        )
        .first()
    )
    total, stale_count = counts["total"], counts["stale"]
    aborted = total > 0 and stale_count > threshold * total
    if aborted:
        kept = existing
        deleted = stale.limit(0)
    else:
        s = stale.select(*[F.col(c).alias(f"_s_{c}") for c in key_cols])
        scond = None
        for c in key_cols:
            eq = F.col(c).eqNullSafe(F.col(f"_s_{c}"))
            scond = eq if scond is None else scond & eq
        kept = existing.join(s, on=scond, how="left_anti")
        deleted = stale
    return GuardedDeleteResult(
        kept=kept,
        deleted=deleted,
        stale_count=stale_count,
        total_count=total,
        aborted=aborted,
    )
