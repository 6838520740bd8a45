"""Plan-smell detector (audit.plan_smells): catalogs and waivers."""

from clinvar_pipeline_spark.audit import plan_smells


def test_detects_nested_loop_and_row_python():
    plan = "== Physical Plan ==\nCartesianProduct\nBatchEvalPython [f(x)]"
    assert set(plan_smells("some_query", plan)) == {
        "nested-loop-join",
        "row-python-udf",
    }


def test_waiver_suppresses_expected_smell():
    plan = "BroadcastNestedLoopJoin BuildRight"
    assert plan_smells("topk_cosine", plan) == []
    assert plan_smells("other", plan) == ["nested-loop-join"]


def test_wide_scan_flagged():
    cols = ",".join(f"c{i}:int" for i in range(16))
    plan = f"FileScan parquet ReadSchema: struct<{cols}>"
    assert plan_smells("x", plan) == ["wide-scan(16 cols)"]
    narrow = "FileScan parquet ReadSchema: struct<a:int,b:int>"
    assert plan_smells("x", narrow) == []


def test_plan_signature_counts_operator_classes():
    from clinvar_pipeline_spark.audit import plan_signature

    plan = """
(1) Scan parquet
(2) Filter
(3) Exchange
(4) HashAggregate [codegen id : 2]
(5) BroadcastExchange
(6) BroadcastHashJoin Inner BuildRight
(7) SortMergeJoin LeftOuter
(8) Sort
(9) Window
(10) TakeOrderedAndProject
(11) Generate explode
(12) FlatMapGroupsInPandasWithState
(13) BroadcastNestedLoopJoin Inner BuildRight
(14) ObjectHashAggregate
(15) Scan parquet
"""
    assert plan_signature(plan) == {
        "shuffle": 1, "broadcast": 1, "bhj": 1, "smj": 1, "bnlj": 1,
        "aggregate": 2, "window": 1, "sort": 1, "topk": 1, "scan": 2,
        "generate": 1, "python": 1,
    }
    # zero counts are omitted, matched only on real op header lines
    assert plan_signature("Exchange mentioned in prose (no header)") == {}


def test_plan_baseline_covers_the_registry_and_matches_live(spark):
    """PLAN_BASELINE.json must name every registry query, and a live
    re-derivation of a handful of stable relational plans must match
    the committed signatures (the drift the tool exists to catch)."""
    import json

    from clinvar_pipeline_spark import queries as q
    from clinvar_pipeline_spark.audit import plan_signatures

    with open("PLAN_BASELINE.json") as f:
        base = json.load(f)
    assert set(base) == set(q.queries())
    probe = [
        "pricing_summary",
        "nation_volume",
        "customer_distribution",
        # Python-free since the trim and the packer became JVM expressions
        "notes_aggregate",
        "width_split",
    ]
    live = plan_signatures(spark, "/root/testdata/sf0.001", probe)
    for name in probe:
        assert live[name] == base[name], name
