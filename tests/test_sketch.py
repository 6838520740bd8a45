"""Approximate-aggregate operators: sketches must land within their
documented error bounds of the exact answers on the real testdata."""

from pyspark.sql import functions as F


# ---------------------------------------------------------------------
# Fixed-bin histogram quantile sketch (the QUANTILE family member)
# ---------------------------------------------------------------------


def test_histogram_registers_add_merge(spark, sf_dir):
    """Two disjoint shards' register frames ADD-merge into the whole
    corpus's frame exactly — the mergeability contract the HLL (max)
    and Count-Min (add) sketches pin, for quantile registers."""
    from clinvar_pipeline_spark.operators.sketch import value_histogram

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = e.agg(F.min("value"), F.max("value")).first()
    vmin, vmax = float(b[0]), float(b[1])
    a = e.filter(F.col("event_id") % 2 == 0)
    bshard = e.filter(F.col("event_id") % 2 == 1)
    merged = (
        value_histogram(a, "event_type", "value", vmin, vmax)
        .unionAll(value_histogram(bshard, "event_type", "value", vmin, vmax))
        .groupBy("key", "bin")
        .agg(F.sum("c").alias("c"))
    )
    whole = value_histogram(e, "event_type", "value", vmin, vmax)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_histogram_quantile_bracket_contains_exact_quantile(spark, sf_dir):
    """For every (type, q) the exact order statistic lies inside the
    emitted [lo, hi) bracket (hi inclusive at the domain max) — the
    sketch's error bound is one bin width, by construction."""
    from clinvar_pipeline_spark.queries_timeseries import (
        q_histogram_quantiles,
    )

    rows = q_histogram_quantiles(spark, "/root/testdata/sf0.001").collect()
    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    by_type: dict[str, list[float]] = {}
    for r in e.select("event_type", "value").collect():
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for vs in by_type.values():
        vs.sort()
    import math

    for r in rows:
        vs = by_type[r["key"]]
        assert r["n"] == len(vs)
        q = {"p50": 0.5, "p90": 0.9, "p99": 0.99}[r["q_label"]]
        exact = vs[math.ceil(q * len(vs)) - 1]  # k-th order statistic
        assert r["lo"] <= exact <= r["hi"], (r, exact)


def test_hist_stream_snapshot_equals_batch(spark, tmp_path):
    """Two-micro-batch drain with compaction on: the streamed register
    snapshot's quantiles equal batch q_histogram_quantiles (domain
    frozen from the seed drop, the CLI lifecycle)."""
    from clinvar_pipeline_spark.queries import _t
    from clinvar_pipeline_spark.queries_timeseries import (
        q_histogram_quantiles,
    )
    from clinvar_pipeline_spark.streaming.timeseries import (
        hist_quantiles_snapshot,
        hist_stream,
        save_hist_bounds,
    )

    sf = "/root/testdata/sf0.001"
    ev = _t(spark, sf, "events")
    b = ev.agg(F.min("value"), F.max("value")).first()
    bounds = str(tmp_path / "bounds")
    save_hist_bounds(spark, float(b[0]), float(b[1]), bounds)
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
    q = hist_stream(
        stream, bounds, str(tmp_path / "hist"), str(tmp_path / "ckpt"),
        compact_every=1,
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, hist_quantiles_snapshot(spark, bounds,
                                           str(tmp_path / "hist")).collect())
    )
    exp = sorted(map(tuple, q_histogram_quantiles(spark, sf).collect()))
    assert got == exp and len(got) == 15
