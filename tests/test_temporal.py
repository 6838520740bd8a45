"""operators/temporal.py: as-of join and bucketed range join, pinned
against pandas.merge_asof and a brute-force pair scan on hand-built
frames (edge cases the registry oracle's organic data may not hit:
equal timestamps, tolerance cut-offs, forward direction, bucket
boundaries, empty right side)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from clinvar_pipeline_spark.operators.temporal import asof_join, range_join

T0 = dt.datetime(2024, 1, 1)


def _ts(s: float) -> dt.datetime:
    return T0 + dt.timedelta(seconds=s)


def _frame(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def lr(spark):
    left = _frame(
        spark,
        [
            (1, 10, _ts(100.0)),
            (2, 10, _ts(200.0)),
            (3, 10, _ts(50.0)),   # before any right row
            (4, 20, _ts(150.0)),  # user with no right rows at all
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = _frame(
        spark,
        [
            (10, _ts(90.0), 901),
            (10, _ts(100.0), 902),   # equal-ts with left event 1
            (10, _ts(160.0), 903),
            (30, _ts(0.0), 904),     # key absent on the left
        ],
        "user_id long, ts timestamp, r_id long",
    )
    return left, right


def test_asof_backward_matches_pandas_merge_asof(spark, lr):
    left, right = lr
    out = {
        r["event_id"]: r
        for r in asof_join(left, right, on="ts", by=["user_id"]).collect()
    }
    lp = left.toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("ts")
    exp = pd.merge_asof(
        lp, rp, on="ts", by="user_id", direction="backward"
    ).set_index("event_id")
    assert len(out) == len(lp)
    for eid, e in exp.iterrows():
        got = out[eid]
        if pd.isna(e["r_id"]):
            assert got["r_id"] is None and got["ts_asof"] is None
        else:
            assert got["r_id"] == e["r_id"]
    # equal timestamps are eligible (inclusive, DuckDB ASOF semantics)
    assert out[1]["r_id"] == 902
    assert out[3]["r_id"] is None  # nothing at or before
    assert out[4]["r_id"] is None  # key has no right rows


def test_asof_forward_and_tolerance(spark, lr):
    left, right = lr
    fwd = {
        r["event_id"]: r
        for r in asof_join(
            left, right, on="ts", by=["user_id"], direction="forward"
        ).collect()
    }
    # nearest at-or-after: 100 -> 100 (inclusive), 200 -> none,
    # 50 -> 90, user 20 -> none
    assert fwd[1]["r_id"] == 902
    assert fwd[2]["r_id"] is None
    assert fwd[3]["r_id"] == 901
    assert fwd[4]["r_id"] is None

    tol = {
        r["event_id"]: r
        for r in asof_join(
            left,
            right,
            on="ts",
            by=["user_id"],
            tolerance_us=15_000_000,  # 15 s
        ).collect()
    }
    assert tol[1]["r_id"] == 902  # lag 0 within tolerance
    assert tol[2]["r_id"] is None  # nearest is 40 s back: nulled
    assert tol[3]["r_id"] is None


def test_asof_rejects_column_collisions(spark, lr):
    left, right = lr
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right.withColumnRenamed("r_id", "event_id"))


def test_range_join_matches_brute_force(spark):
    left = _frame(
        spark,
        [(i, 10, _ts(float(i * 37))) for i in range(30)],
        "event_id long, user_id long, ts timestamp",
    )
    right = _frame(
        spark,
        [(10, _ts(float(j * 23)), j) for j in range(50)]
        + [(99, _ts(10.0), 999)],  # key absent on the left
        "user_id long, ts timestamp, r_id long",
    )
    lo, hi = 0, 60_000_000  # (0, 60 s]
    got = {
        (r["event_id"], r["r_id"])
        for r in range_join(
            left, right, on="ts", by=["user_id"], lower_us=lo, upper_us=hi
        ).collect()
    }
    exp = set()
    for i in range(30):
        for j in range(50):
            off = (j * 23 - i * 37) * 1_000_000
            if lo < off <= hi:
                exp.add((i, j))
    assert got == exp
    assert exp  # non-vacuous
    # boundary semantics: exactly +60 s included, 0 excluded
    l2 = _frame(spark, [(1, 1, _ts(0.0))], "event_id long, user_id long, ts timestamp")
    r2 = _frame(
        spark,
        [(1, _ts(0.0), 0), (1, _ts(60.0), 60), (1, _ts(60.000001), 61)],
        "user_id long, ts timestamp, r_id long",
    )
    ids = {
        r["r_id"]
        for r in range_join(l2, r2, lower_us=lo, upper_us=hi).collect()
    }
    assert ids == {60}


def test_range_join_negative_lower_reaches_back(spark):
    left = _frame(spark, [(1, 1, _ts(100.0))], "event_id long, user_id long, ts timestamp")
    right = _frame(
        spark,
        [(1, _ts(s), int(s)) for s in (40.0, 60.0, 100.0, 140.0, 161.0)],
        "user_id long, ts timestamp, r_id long",
    )
    got = {
        r["r_id"]
        for r in range_join(
            left, right, lower_us=-60_000_000, upper_us=60_000_000
        ).collect()
    }
    # (-60 s, +60 s]: 40 excluded (off = -60 not > lower), 60/100/140 in,
    # 161 out
    assert got == {60, 100, 140}


def test_asof_is_join_free_and_range_join_is_equi(spark, lr):
    """The plans honor the scale contract: asof has NO join operator
    (union + window only); range_join's join is a hash/sort-merge
    EQUI join, never a nested loop."""
    left, right = lr
    p1 = asof_join(left, right)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p1
    p2 = (
        range_join(left, right)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in p2 and "Cartesian" not in p2
    assert "Join" in p2


def test_asof_stream_equals_batch_on_two_batch_drop(spark, tmp_path):
    """Streaming as-of against a frozen right side: purchases arrive
    in two micro-batches; the appended stream output must equal the
    batch asof_join over the union of both batches (row-independence
    of the backward as-of makes this exact, not approximate)."""
    from clinvar_pipeline_spark.streaming.temporal import asof_stream

    schema = "event_id long, user_id long, ts timestamp"
    views = spark.createDataFrame(
        [(10, _ts(90.0), 901), (10, _ts(160.0), 903), (20, _ts(10.0), 904)],
        "user_id long, ts timestamp, view_id long",
    )
    batch1 = [(1, 10, _ts(100.0)), (2, 20, _ts(5.0))]
    batch2 = [(3, 10, _ts(200.0)), (4, 30, _ts(50.0))]
    drop = tmp_path / "purchases"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(drop))
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(drop))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force >= 2 micro-batches
        .parquet(str(drop))
    )
    q = asof_stream(
        stream, views, str(tmp_path / "attributed"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {
        r["event_id"]: (r["view_id"], r["ts_asof"])
        for r in spark.read.parquet(str(tmp_path / "attributed")).collect()
    }
    exp = {
        r["event_id"]: (r["view_id"], r["ts_asof"])
        for r in asof_join(
            spark.read.parquet(str(drop)), views, on="ts", by=["user_id"]
        ).collect()
    }
    assert got == exp
    assert got[1][0] == 901  # matched within batch 1
    assert got[3][0] == 903  # batch-2 arrival sees the full history
    assert got[2][0] is None and got[4][0] is None  # no prior view


# ---------------------------------------------------------------------
# Property tests: random schedules vs pandas / brute force
# ---------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),      # user
        st.integers(min_value=0, max_value=500),     # seconds
    ),
    min_size=0,
    max_size=25,
)


@settings(max_examples=10, deadline=None)
@given(_events, _events)
def test_asof_property_matches_merge_asof(spark, lefts, rights):
    """Random per-user schedules (duplicate left timestamps allowed;
    right timestamps deduped per user — the operator's documented tie
    contract): backward asof == pandas merge_asof row-for-row."""
    rights = list({(u, s): None for u, s in rights})  # dedupe (u, ts)
    left = spark.createDataFrame(
        [(i, u, _ts(float(s))) for i, (u, s) in enumerate(lefts)] or
        [(0, 99, _ts(0.0))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(u, _ts(float(s)), 1000 + j) for j, (u, s) in enumerate(rights)] or
        [(98, _ts(0.0), 999)],
        "user_id long, ts timestamp, r_id long",
    )
    got = {
        r["event_id"]: r["r_id"]
        for r in asof_join(left, right, on="ts", by=["user_id"]).collect()
    }
    lp = left.toPandas().sort_values(["ts", "event_id"])
    rp = right.toPandas().sort_values(["ts", "r_id"])
    exp = pd.merge_asof(lp, rp, on="ts", by="user_id")
    assert len(got) == len(lp)
    for _, e in exp.iterrows():
        want = None if pd.isna(e["r_id"]) else int(e["r_id"])
        assert got[e["event_id"]] == want


@settings(max_examples=10, deadline=None)
@given(
    _events,
    _events,
    st.integers(min_value=1, max_value=120),
    st.integers(min_value=1, max_value=200),
)
def test_range_join_property_matches_brute_force(
    spark, lefts, rights, span_s, bucket_s
):
    """Random schedules, random window span, random (even misaligned)
    bucket width: the bucketed equi-join plus exact post-filter equals
    the quadratic definition."""
    lo, hi = 0, span_s * 1_000_000
    left = spark.createDataFrame(
        [(i, u, _ts(float(s))) for i, (u, s) in enumerate(lefts)] or
        [(0, 99, _ts(0.0))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(u, _ts(float(s)), j) for j, (u, s) in enumerate(rights)] or
        [(98, _ts(0.0), 999)],
        "user_id long, ts timestamp, r_id long",
    )
    got = {
        (r["event_id"], r["r_id"])
        for r in range_join(
            left,
            right,
            lower_us=lo,
            upper_us=hi,
            bucket_us=bucket_s * 1_000_000,
        ).collect()
    }
    exp = {
        (i, j)
        for i, (u, s) in enumerate(lefts or [(99, 0)])
        for j, (u2, s2) in enumerate(rights or [(98, 0)])
        if u == u2 and lo < (s2 - s) * 1_000_000 <= hi
    }
    assert got == exp


def test_asof_carries_whole_rows_not_stitched_fields(spark):
    """Review regression: per-column ignorenulls carries would stitch
    fields from DIFFERENT right rows when the matched row holds a
    null payload field. The carry must be the whole matched row."""
    left = _frame(
        spark,
        [(1, 10, _ts(300.0))],
        "event_id long, user_id long, ts timestamp",
    )
    right = _frame(
        spark,
        [(10, _ts(100.0), 5, None), (10, _ts(200.0), None, 7)],
        "user_id long, ts timestamp, a long, b long",
    )
    r = asof_join(left, right, on="ts", by=["user_id"]).collect()[0]
    # nearest row is ts=200 -> (a=NULL, b=7); a=5 would be stitched
    assert r["a"] is None and r["b"] == 7

    # with tolerance, a stale field must not leak from outside the
    # window either
    r = asof_join(
        left, right, on="ts", by=["user_id"], tolerance_us=150_000_000
    ).collect()[0]
    assert r["a"] is None and r["b"] == 7


def test_asof_null_event_times_match_nothing(spark):
    """Review regression: a NULL left ts must not adopt the scan's
    first right row (forward) and a NULL right ts must not carry into
    every left row (backward)."""
    left = _frame(
        spark,
        [(1, 10, None), (2, 10, _ts(50.0))],
        "event_id long, user_id long, ts timestamp",
    )
    right = _frame(
        spark,
        [(10, _ts(10.0), 901), (10, None, 999)],
        "user_id long, ts timestamp, r_id long",
    )
    for direction in ("backward", "forward"):
        got = {
            r["event_id"]: r["r_id"]
            for r in asof_join(
                left, right, on="ts", by=["user_id"], direction=direction
            ).collect()
        }
        assert got[1] is None, direction  # null left ts: no match
        assert got[2] != 999, direction   # null right ts: never a match
    # and the non-degenerate row still matches normally
    got = {
        r["event_id"]: r["r_id"]
        for r in asof_join(left, right, on="ts", by=["user_id"]).collect()
    }
    assert got[2] == 901


def test_asof_tiebreak_col_is_deterministic_across_partitionings(spark):
    """Judge r7 sub-finding: among right rows with identical (by, ts)
    the default winner is "last in input order" — run-order
    nondeterminism. tiebreak_col must make the pick total by
    construction: the MAX tiebreak value wins, identically under
    every repartitioning and input order, in both directions."""
    left = _frame(
        spark,
        [(1, 10, _ts(100.0)), (2, 10, _ts(250.0)), (3, 10, _ts(40.0))],
        "event_id long, user_id long, ts timestamp",
    )
    # three right rows at the SAME (user, ts) with distinct payloads,
    # plus a second duplicated instant to catch per-group mistakes
    rrows = [
        (10, _ts(50.0), 901, "a"),
        (10, _ts(50.0), 907, "b"),
        (10, _ts(50.0), 903, "c"),
        (10, _ts(200.0), 955, "d"),
        (10, _ts(200.0), 951, "e"),
    ]
    # a handful of adversarial input orders (sorted, reversed, max
    # first, max last, interleaved) x partitionings — enough to flip
    # the default "last in input order" pick if the tiebreak leaked
    perms = [(0, 1, 2, 3, 4), (4, 3, 2, 1, 0), (1, 0, 2, 4, 3),
             (2, 0, 1, 3, 4), (0, 2, 1, 4, 3)]
    for direction, want in (("backward", {1: 907, 2: 955, 3: None}),
                            ("forward", {1: 955, 2: None, 3: 907})):
        for perm in perms:
            right = _frame(
                spark,
                [rrows[i] for i in perm],
                "user_id long, ts timestamp, r_id long, tag string",
            )
            for nparts in (1, 3):
                got = {
                    r["event_id"]: r["r_id"]
                    for r in asof_join(
                        left,
                        right.repartition(nparts),
                        on="ts",
                        by=["user_id"],
                        direction=direction,
                        tiebreak_col="r_id",
                    ).collect()
                }
                assert got == want, (direction, perm, nparts, got)

    # whole-row carry: the winning row's OTHER payload rides along
    right = _frame(
        spark,
        rrows,
        "user_id long, ts timestamp, r_id long, tag string",
    )
    row = asof_join(
        left.filter("event_id = 1"), right, on="ts", by=["user_id"],
        tiebreak_col="r_id",
    ).collect()[0]
    assert (row["r_id"], row["tag"]) == (907, "b")

    # null tiebreak values lose to non-null ones
    right_n = _frame(
        spark,
        [(10, _ts(50.0), None, "n"), (10, _ts(50.0), 5, "x")],
        "user_id long, ts timestamp, r_id long, tag string",
    )
    row = asof_join(
        left.filter("event_id = 1"), right_n, on="ts", by=["user_id"],
        tiebreak_col="r_id",
    ).collect()[0]
    assert (row["r_id"], row["tag"]) == (5, "x")

    # unknown tiebreak column raises
    with pytest.raises(ValueError, match="tiebreak_col"):
        asof_join(left, right, on="ts", by=["user_id"], tiebreak_col="nope")


def test_funnel_stream_equals_batch_on_two_batch_drop(spark, tmp_path, sf_dir):
    """Streamed funnel tier (r8): REAL sf0.001 purchases drained in
    two micro-batches against the frozen view->click chain; the
    min-merged snapshot must equal the batch q_event_funnel
    row-for-row (compaction on, so the fold path is exercised too)."""
    from clinvar_pipeline_spark.queries import _t, release_cached
    from clinvar_pipeline_spark.queries_temporal import (
        CONVERSION_WINDOW_US,
        funnel_chain,
        q_event_funnel,
    )
    from clinvar_pipeline_spark.streaming.temporal import (
        funnel_snapshot,
        funnel_stream,
    )

    ev = _t(spark, sf_dir, "events")
    chain = funnel_chain(ev)
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    drop = tmp_path / "purchases"
    purch.repartition(2).write.parquet(str(drop))  # 2 files -> 2 epochs

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    out, ckpt = str(tmp_path / "funnel"), str(tmp_path / "ckpt_funnel")
    q = funnel_stream(
        stream, chain, out, ckpt,
        window_us=CONVERSION_WINDOW_US, compact_every=1,
    )
    q.awaitTermination(120)

    def rows(df):
        return {
            r["user_id"]: (
                r["view_ts"], r["click_ts"], r["purchase_ts"],
                r["funnel_stage"],
            )
            for r in df.collect()
        }

    got = rows(funnel_snapshot(spark, out, chain))
    exp = rows(q_event_funnel(spark, sf_dir))
    release_cached()
    assert got == exp
    assert any(v[3] == 3 for v in exp.values())  # a non-vacuous funnel


def test_multitouch_attribution_matches_brute_force(spark, sf_dir):
    """Per-purchase touch sets recomputed by brute force: counts,
    deterministic first/last picks, linear credit, and the zero-touch
    spine rows."""
    import math

    from clinvar_pipeline_spark.queries import _t
    from clinvar_pipeline_spark.queries_temporal import (
        CONVERSION_WINDOW_US,
        q_multitouch_attribution,
    )

    rows = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    ).collect()
    views: dict = {}
    purchases = []
    for r in rows:
        us = int(r["ts"].timestamp() * 1e6)
        if r["event_type"] == "view":
            views.setdefault(r["user_id"], []).append((us, r["event_id"]))
        elif r["event_type"] == "purchase":
            purchases.append((r["event_id"], r["user_id"], us))
    exp = {}
    for pid, uid, pus in purchases:
        touch = [
            (us, vid) for us, vid in views.get(uid, [])
            if 0 < pus - us <= CONVERSION_WINDOW_US
        ]
        if touch:
            exp[pid] = (
                len(touch), min(touch)[1], max(touch)[1],
                math.floor(1.0 / len(touch) * 1e6 + 0.5) / 1e6,
            )
        else:
            exp[pid] = (0, None, None, None)
    got = {
        r["event_id"]: (
            r["n_touches"], r["first_view_id"], r["last_view_id"],
            r["linear_credit"],
        )
        for r in q_multitouch_attribution(spark, sf_dir).collect()
    }
    assert got == exp
    assert any(v[0] == 0 for v in exp.values()) or len(exp) > 0
    assert any(v[0] > 1 for v in exp.values())  # real multi-touch rows


def test_range_live_stream_native_join_equals_batch(spark, tmp_path, sf_dir):
    """Both sides live through Spark's NATIVE stream-stream inner
    join: real sf0.001 events drained in two micro-batches must emit
    exactly the batch range_join pair set — including cross-batch
    pairs (a purchase arriving a micro-batch after its click matches
    off the engine-buffered click state, which is the capability the
    native join exists for)."""
    from clinvar_pipeline_spark.queries import _t
    from clinvar_pipeline_spark.streaming.temporal import range_live_stream

    ev = _t(spark, sf_dir, "events")
    drop = tmp_path / "events"
    ev.repartition(2).write.parquet(str(drop))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = range_live_stream(
        stream, str(tmp_path / "pairs"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    got = {
        (r["event_id"], r["user_id"], r["ts"], r["ts_r"], r["value"])
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    exp = {
        (r["event_id"], r["user_id"], r["ts"], r["ts_r"], r["value"])
        for r in range_join(
            clicks, purch, on="ts", by=["user_id"],
            lower_us=0, upper_us=86_400_000_000,
        ).collect()
    }
    assert got == exp and len(got) > 0


def test_range_live_stream_pairs_across_micro_batches(spark, tmp_path):
    """Constructed proof of cross-batch buffering: the click arrives
    in micro-batch 1, its converting purchase only in micro-batch 2 —
    the native join must still emit the pair (and not emit the
    out-of-window one)."""
    from clinvar_pipeline_spark.streaming.temporal import range_live_stream

    schema = (
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string"
    )
    drop = tmp_path / "events"
    b1 = [(1, _ts(100.0), 10, "click", 0.0, "{}")]
    b2 = [
        (2, _ts(500.0), 10, "purchase", 9.5, "{}"),  # in window
        (3, _ts(100.0 + 90_000.0), 10, "purchase", 1.0, "{}"),  # > 24 h
    ]
    for b in (b1, b2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(drop))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = range_live_stream(
        stream, str(tmp_path / "pairs"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "pairs")).collect()
    assert [(r["event_id"], r["value"]) for r in rows] == [(1, 9.5)]
