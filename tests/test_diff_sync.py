"""Tests for the generic diff-sync operator (J10) + guarded delete (W4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from clinvar_pipeline_spark.operators.diff_sync import (
    CHANGE_COL,
    DELETE,
    INSERT,
    UNCHANGED,
    UPDATE,
    apply_diff,
    diff_sync,
)
from clinvar_pipeline_spark.operators.guarded_delete import guarded_stale_delete


def _dfs(spark):
    existing = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "name", "val"]
    )
    incoming = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 99.0), (4, "d", 40.0)], ["k", "name", "val"]
    )
    return incoming, existing


def test_classification(spark):
    incoming, existing = _dfs(spark)
    diff = diff_sync(incoming, existing, ["k"])
    got = {r["k"]: r[CHANGE_COL] for r in diff.collect()}
    assert got == {1: DELETE, 2: UNCHANGED, 3: UPDATE, 4: INSERT}


def test_delete_rows_carry_old_values(spark):
    incoming, existing = _dfs(spark)
    diff = diff_sync(incoming, existing, ["k"])
    row = diff.filter(F.col("k") == 1).collect()[0]
    assert row["name"] == "a" and row["val"] == 10.0
    assert row["old_name"] == "a"


def test_apply_diff_roundtrip(spark):
    incoming, existing = _dfs(spark)
    diff = diff_sync(incoming, existing, ["k"])
    nxt = apply_diff(diff, ["k"], ["name", "val"])
    assert sorted(map(tuple, nxt.collect())) == sorted(map(tuple, incoming.collect()))


def test_null_vs_empty_distinguished(spark):
    existing = spark.createDataFrame([(1, None)], "k int, v string")
    incoming = spark.createDataFrame([(1, "")], "k int, v string")
    diff = diff_sync(incoming, existing, ["k"])
    assert diff.collect()[0][CHANGE_COL] == UPDATE


def test_counters(spark):
    incoming, existing = _dfs(spark)
    diff = diff_sync(incoming, existing, ["k"])
    got = {r[CHANGE_COL]: r["count"] for r in diff.groupBy(CHANGE_COL).count().collect()}
    assert got == {DELETE: 1, INSERT: 1, UNCHANGED: 1, UPDATE: 1}


class TestGuardedDelete:
    def test_under_threshold_deletes(self, spark):
        existing = spark.createDataFrame([(i,) for i in range(100)], ["k"])
        touched = spark.createDataFrame([(i,) for i in range(95)], ["k"])
        res = guarded_stale_delete(existing, touched, ["k"], threshold=0.08)
        assert not res.aborted
        assert res.stale_count == 5
        assert res.kept.count() == 95
        assert res.deleted.count() == 5

    def test_over_threshold_aborts(self, spark):
        existing = spark.createDataFrame([(i,) for i in range(100)], ["k"])
        touched = spark.createDataFrame([(i,) for i in range(80)], ["k"])
        res = guarded_stale_delete(existing, touched, ["k"], threshold=0.08)
        assert res.aborted
        assert res.stale_count == 20
        assert res.kept.count() == 100
        assert res.deleted.count() == 0

    def test_empty_existing_not_aborted(self, spark):
        existing = spark.createDataFrame([], "k long")
        touched = spark.createDataFrame([(1,)], "k long")
        res = guarded_stale_delete(existing, touched, ["k"], threshold=0.08)
        assert not res.aborted
        assert (res.stale_count, res.total_count) == (0, 0)
        assert res.kept.count() == 0
        assert res.deleted.count() == 0


def test_salted_groupby_matches_plain(spark, sf_dir):
    from pyspark.sql import functions as F

    from clinvar_pipeline_spark.operators.skew import salted_groupby_agg

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    plain = {
        (r["event_type"], r["n"])
        for r in e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        (r["event_type"], r["n"])
        for r in salted_groupby_agg(
            e,
            key_cols=["event_type"],
            partial_aggs={"c": F.count(F.lit(1))},
            final_aggs={"n": F.sum("c")},
            n_salts=8,
            salt_basis=["event_id"],
        ).collect()
    }
    assert salted == plain


def test_annot_stale_guard_query_exercises_both_branches(spark):
    """W5 registry query: the per-aspect breaker must take BOTH
    branches on the real testdata — 'D' under the 5% annotation
    threshold (delete proceeds, kept = total - stale), 'H' over it
    (abort keeps every row)."""
    from clinvar_pipeline_spark.queries import q_annot_stale_guard

    rows = {
        r["aspect"]: r
        for r in q_annot_stale_guard(spark, "/root/testdata/sf0.001").collect()
    }
    assert set(rows) == {"D", "H"}
    d, h = rows["D"], rows["H"]
    assert d["aborted"] == 0
    assert d["kept_count"] == d["total_count"] - d["stale_count"]
    assert h["aborted"] == 1
    assert h["kept_count"] == h["total_count"]
    # the guard decision mirrors the operator the plan wires in
    # (plans/annotate.py:440): stale fraction vs the 5% breaker
    assert d["stale_count"] <= 0.05 * d["total_count"]
    assert h["stale_count"] > 0.05 * h["total_count"]
