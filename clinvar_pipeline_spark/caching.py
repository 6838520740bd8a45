"""Session-scoped registry for persisted intermediates.

A ``.persist()`` inside a lazily returned plan cannot unpersist itself:
the blocks only materialize when the caller runs an action, after the
building function has returned. Callers that re-invoke plans in one
session (bench passes, test loops, repeated CLI runs) would otherwise
accumulate cache blocks — each invocation persists a NEW frame — until
the storage pool thrashes (the round-3 bench regressions).

Plan builders route persists through :func:`register_persist`; callers
release everything after the dependent plans materialize via
:func:`release_cached` (re-exported as ``queries.release_cached``).
"""

from __future__ import annotations

from typing import Any, Callable, Hashable

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []

# --------------------------------------------------------------------
# Session-scoped scalar memo (NOT released by release_cached).
#
# For derived *corpus state* — trained IVF/SemDeDup quantizer
# centroids, corpus row counts — that is a function of the input data
# and parameters, not of the individual query invocation. Re-deriving
# it per invocation re-runs a sort+collect training job every time a
# plan is built (the r5 ann_topk_ivf warm regression: warm passes paid
# the TakeOrdered+collect quantizer job again and again, landing
# slower than their own cold pass). At cluster scale the same
# principle holds: a quantizer is trained once per corpus and served
# to every query, not re-fit per query.
#
# release_cached() deliberately leaves the memo alone: persisted
# DataFrames hold executor storage-pool memory and must be dropped
# between invocations; memoized numpy centroids / counts are tiny
# driver objects whose whole point is surviving invocations.
# --------------------------------------------------------------------

_MEMO: dict[Hashable, Any] = {}


def memo(key: Hashable, compute: Callable[[], Any]) -> Any:
    """Return the memoized value for ``key``, computing (and caching)
    it on first use. Keys must encode every parameter the computation
    depends on — including a corpus identity string, since the same
    operator runs against different sf dirs in one session.

    STALENESS CONTRACT (ADVICE r11): keys encode the corpus by its
    *path*, not its contents. If the parquet under a memoized sf_dir
    is REWRITTEN mid-application (test fixtures regenerating data in
    place), call :func:`clear_memo` at the rewrite point — otherwise a
    corpus-derived scalar (token total, node count, doc count,
    quantizer centroids) computed from the old bytes folds into later
    plans as a literal and silently changes scores rather than just
    timing. Every in-repo fixture writer creates a FRESH tmp dir per
    test, so the hazard is only live for external callers mutating a
    directory in place."""
    if key not in _MEMO:
        _MEMO[key] = compute()
    return _MEMO[key]


def clear_memo() -> int:
    """Drop every memoized scalar; returns the count dropped. For
    tests that re-train quantizers with fresh data under a reused
    key."""
    n = len(_MEMO)
    _MEMO.clear()
    return n


def register_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` (lazily: the blocks fill on the first action that
    reads it) and remember it for :func:`release_cached`."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every frame registered by :func:`register_persist`;
    returns the count released. Safe to call at any point after the
    dependent plans have materialized (Spark drops blocks
    asynchronously; in-flight jobs recompute from lineage)."""
    n = 0
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
        n += 1
    return n
