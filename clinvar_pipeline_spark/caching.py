"""Session-scoped registry for persisted intermediates, and the memo
for state derived from an input.

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

import re
from typing import Any, Callable, Hashable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

_PERSISTED: list[DataFrame] = []

# --------------------------------------------------------------------
# Session-scoped memo (NOT released by release_cached) for corpus
# state — trained quantizers, corpus counts, a cluster labeling, a read
# handle: a function of the input and parameters, not of the
# invocation. Re-deriving it per plan build re-ran a training job per
# invocation (the r5 ann_topk_ivf regression: warm slower than cold).
#
# An entry is keyed by the session, the caller's tag and parameters,
# and every file the input reads with its size and modification time:
# a frame's as Spark listed them when it was read, a path's
# (memo_path, the _t read handle) as listed at lookup. Input rewritten
# at the same path (the product's release lands nightly at one fixed
# path) therefore misses; no caller ever invalidates.
# --------------------------------------------------------------------

_MEMO: dict[Hashable, list[tuple[DataFrame | None, Any]]] = {}

# A Hadoop FileStatus.toString (unchanged since Hadoop 2)
_STATUS = re.compile(
    r"\{path=(.*?); isDirectory=(\w+); (?:length=(\d+); .*?)?modification_time=(\d+);"
)


def _statuses(jseq) -> list[tuple[str, str, str, str]] | None:
    """``(path, isDirectory, length, mtime)`` of each FileStatus in a
    JVM sequence, fetched as ONE string however many files it holds;
    None when one does not parse (the memo then keeps nothing)."""
    text = jseq.mkString("\n")
    rows = _STATUS.findall(text)
    return rows if len(rows) == len(text.splitlines()) else None


def _hidden(status_path: str) -> bool:
    """A name Spark's file index skips: ``_SUCCESS``, ``.crc`` sidecars
    and the like, but not a ``key=value`` partition directory."""
    name = status_path.rsplit("/", 1)[-1]
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _listing(spark: SparkSession, path: str) -> tuple | None:
    """Sorted statuses of every file at or under ``path`` that a read of
    ``path`` would scan, as listed now, one listStatus per directory;
    None when ``path`` is gone."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    todo, found = [jvm.org.apache.hadoop.fs.Path(path)], []
    while todo:
        p = todo.pop()
        try:
            listed = p.getFileSystem(conf).listStatus(p)
        except Py4JJavaError as e:
            if "FileNotFound" in e.java_exception.getClass().getName():
                return None
            raise
        rows = _statuses(jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(listed))
        if rows is None:
            return None
        rows = [r for r in rows if not _hidden(r[0])]
        todo.extend(jvm.org.apache.hadoop.fs.Path(r[0]) for r in rows if r[1] == "true")
        found.extend(r for r in rows if r[1] != "true")
    return tuple(sorted(found))


def _plan_files(df: DataFrame) -> tuple | None:
    """Sorted statuses of every file the ANALYZED plan reads (a persisted
    frame's optimized plan has none), as each relation listed them when
    read: the files its actions read, with no filesystem call. Leaves
    holding their rows (LocalRelation, Range) are left to sameSemantics;
    any other leaf gives None (an RDD leaf compares by RDD id and would
    pin the RDD for the process)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind in ("LocalRelation", "Range", "OneRowRelation"):
            continue
        rel = leaf.relation() if kind == "LogicalRelation" else None
        if rel is None or rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        rows = _statuses(rel.location().allFiles())
        if rows is None:
            return None
        files.extend(rows)
    return tuple(sorted(files))


def _lookup(key: Hashable, frame: DataFrame | None, compute: Callable[[], Any]) -> Any:
    entries = _MEMO.setdefault(key, [])
    for stored, value in entries:
        if stored is None or stored.sameSemantics(frame):
            return value
    value = compute()
    entries.append((frame, value))
    return value


def memo(key: Hashable, source: DataFrame, compute: Callable[[], Any]) -> Any:
    """``compute()``, derived from ``source``, computed once per input.
    ``key`` is a tag plus the computation's own parameters. A hit needs
    the same files (:func:`_plan_files`) and semanticHash and is
    confirmed by ``sameSemantics``: two reads of one path match, a
    filtered read does not. An input with no file identity is computed
    and not kept."""
    ident = _plan_files(source)
    if ident is None:
        return compute()
    app_id = source.sparkSession.sparkContext.applicationId
    return _lookup((app_id, key, ident, source.semanticHash()), source, compute)


def memo_path(
    key: Hashable, spark: SparkSession, path: str, compute: Callable[[], Any]
) -> Any:
    """:func:`memo` for a value read straight from ``path``, keyed on
    every file under ``path`` as listed now."""
    ident = _listing(spark, path)
    if ident is None:
        return compute()
    return _lookup((spark.sparkContext.applicationId, key, ident), None, compute)


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
