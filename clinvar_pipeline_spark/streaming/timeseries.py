"""Streamed OHLC resampling: the candlestick downsample served
incrementally over an event-stream ingest.

OHLC is mergeable by construction — open/close are argmin/argmax over
(ts, event_id) (total under ties, the batch query's tiebreak), high/
low/count/volume are plain associative aggregates — so per-micro-batch
partial cells land epoch-keyed (the cm_stream exactly-once pattern:
a replayed epoch OVERWRITES its own dir, never double-lands) and the
snapshot merges cells across epochs. The merge is LINEAR
(fold(a ∪ b) == fold(fold(a) ∪ b)), so compaction's base-generation
fold (streaming/compaction.py) keeps the live dir count bounded on a
long-lived ingest while the snapshot stays cell-for-cell equal.

The streamed snapshot is pinned row-equal to the batch
q_ohlc_resample (queries_timeseries.py) on a two-batch drain —
tests/test_timeseries.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinvar_pipeline_spark.queries import DEC4, qround

# a partial OHLC cell: the aggregates plus the merge keys the batch
# query's min_by/max_by picks are made total by
_CELL_COLS = [
    "user_id", "h", "open", "open_ts", "open_id",
    "high", "low", "close", "close_ts", "close_id",
    "n_trades", "vsum",
]


def _cells(df: DataFrame) -> DataFrame:
    """Per-(user, hour) partial OHLC cells for one batch of events
    (filtering to 'purchase' — the batch query's slice)."""
    okey = F.struct("ts", "event_id")
    return (
        df.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.min_by("value", okey).alias("open"),
            F.min("ts").alias("open_ts"),
            F.min_by("event_id", okey).alias("open_id"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", okey).alias("close"),
            F.max("ts").alias("close_ts"),
            F.max_by("event_id", okey).alias("close_id"),
            F.count(F.lit(1)).alias("n_trades"),
            F.sum(F.col("value").cast(DEC4)).alias("vsum"),
        )
        .select(*_CELL_COLS)
    )


def merge_cells(df: DataFrame) -> DataFrame:
    """Merge partial cells sharing a (user, hour) key — associative
    and linear: open follows the smallest (open_ts, open_id), close
    the largest (close_ts, close_id), the rest are min/max/sum. Used
    both as the compaction fold and by the snapshot reader."""
    okey = F.struct("open_ts", "open_id")
    ckey = F.struct("close_ts", "close_id")
    return (
        df.groupBy("user_id", "h")
        .agg(
            F.min_by("open", okey).alias("open"),
            F.min("open_ts").alias("open_ts"),
            F.min_by("open_id", okey).alias("open_id"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", ckey).alias("close"),
            F.max("close_ts").alias("close_ts"),
            F.max_by("close_id", ckey).alias("close_id"),
            F.sum("n_trades").alias("n_trades"),
            F.sum("vsum").cast(DEC4).alias("vsum"),
        )
        .select(*_CELL_COLS)
    )


def ohlc_stream(
    events: DataFrame,
    out_path: str,
    checkpoint: str,
    compact_every: int | None = None,
):
    """Start the streamed OHLC resample: each micro-batch's partial
    cells land under ``out_path`` keyed by epoch (idempotent under
    replay); readers go through :func:`ohlc_snapshot`. Returns the
    StreamingQuery.

    Scale: per-batch state is one cell per (user, hour) touched by
    the batch — bounded by the batch's own key spread, with map-side
    partial aggregation collapsing trades before the exchange. No
    global state in the stream itself; history lives in the sink,
    folded by compaction so the snapshot's merge input stays bounded
    (≤ keys + keys·compact_every cells) at any stream age."""

    def _do(batch_df: DataFrame, epoch_id: int) -> None:
        _cells(batch_df).write.mode("overwrite").parquet(
            f"{out_path}/epoch={int(epoch_id)}"
        )
        if compact_every:
            from clinvar_pipeline_spark.streaming.compaction import (
                compact,
                list_live_epochs,
            )

            spark = batch_df.sparkSession
            if len(list_live_epochs(spark, out_path)) > compact_every:
                compact(spark, out_path, fold=merge_cells)

    return (
        events.writeStream.foreachBatch(_do)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ohlc_snapshot(spark: SparkSession, out_path: str) -> DataFrame:
    """The OHLC table under everything drained so far — schema and
    values identical to the batch q_ohlc_resample (user_id, h, open,
    high, low, close, n_trades, volume with the engine-identical
    4-decimal quantized volume)."""
    from clinvar_pipeline_spark.streaming.compaction import snapshot_parts

    parts = snapshot_parts(spark, out_path)
    if parts is None:
        return spark.createDataFrame(
            [],
            "user_id long, h timestamp, open double, high double,"
            " low double, close double, n_trades long, volume double",
        )
    m = merge_cells(parts)
    return m.select(
        "user_id",
        "h",
        "open",
        "high",
        "low",
        "close",
        "n_trades",
        F.round(F.col("vsum").cast("double"), 4).alias("volume"),
    )


# ---------------------------------------------------------------------
# TRUE streaming transitions: adjacent-pair extraction, watermark-correct
# ---------------------------------------------------------------------

_TRANS_STATE_SCHEMA = "ts array<bigint>, id array<bigint>, tp array<string>"


def ngrams_live_stream(
    events: DataFrame,
    n: int = 2,
    watermark_delay: str = "10 seconds",
    by: str = "user_id",
    on: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key sliding n-gram extraction over a LIVE event stream —
    the generalized form of the adjacent-pair (transition) extractor;
    n=3 is the streamed feeder of q_event_trigrams' path mining
    (queries_timeseries.py).

    Finalization rule: the window (e_{k-n+1}, …, e_k) in (ts, id)
    order is knowable only once no event can still arrive anywhere
    inside it. Because a new arrival must carry ts > watermark, and
    the elements are (ts, id)-sorted, the window is final exactly
    when the watermark passes e_k's event time — the same argument
    for any n. Out-of-order arrivals inside the horizon therefore
    SPLIT the windows they land inside, never corrupt an emitted one.

    State is O(horizon) per key: after emitting through index K, the
    buffer keeps the last n−1 finalized elements (the context every
    later window shares) plus everything still inside the horizon.
    Emission is exactly-once across batches because retained context
    occupies indices < n−1, below the first emittable window end.
    Keys holding a complete-but-unfinalized window flush via
    EventTimeTimeout pinned to the window-completing event's time.

    Output columns: ``by``, ``id_1..id_n``, ``type_1..type_n``,
    ``end_ts_us``. The tail (windows still inside the horizon at
    drain) stays pending — the batch query is the verdict of record
    for it (the neardup_stream discipline)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if n < 2:
        raise ValueError(f"ngrams_live_stream: n={n} < 2")

    id_cols = [f"id_{j}" for j in range(1, n + 1)]
    type_cols = [f"type_{j}" for j in range(1, n + 1)]
    out_schema = (
        f"{by} long, "
        + ", ".join(f"{c} long" for c in id_cols)
        + ", "
        + ", ".join(f"{c} string" for c in type_cols)
        + ", end_ts_us long"
    )

    def _fn(key, pdfs, state: GroupState):
        buf: list[tuple[int, int, str]] = []
        if state.exists:
            s_ts, s_id, s_tp = state.get
            buf = [(int(t), int(i), str(p)) for t, i, p in zip(s_ts, s_id, s_tp)]
        for pdf in pdfs:
            if pdf.empty:
                continue
            for t, i, p in zip(
                pdf["_us"].astype("int64"),
                pdf[id_col].astype("int64"),
                pdf[type_col],
            ):
                buf.append((int(t), int(i), str(p)))
        buf.sort()

        wm_us = state.getCurrentWatermarkMs() * 1000
        done = [k for k in range(n - 1, len(buf)) if buf[k][0] <= wm_us]
        rows = [
            (key[0], *[buf[j][1] for j in range(k - n + 1, k + 1)],
             *[buf[j][2] for j in range(k - n + 1, k + 1)], buf[k][0])
            for k in done
        ]
        # keep the last n-1 finalized elements as shared context for
        # the next window; they sit below index n-1, so they can
        # never head a re-emission
        keep = buf[max(done) - (n - 2):] if done else buf

        if keep:
            state.update(
                (
                    [t for t, _, _ in keep],
                    [i for _, i, _ in keep],
                    [p for _, _, p in keep],
                )
            )
            if len(keep) >= n:
                # earliest unfinalized window completes at keep[n-1]'s
                # event time (> wm by construction)
                state.setTimeoutTimestamp(keep[n - 1][0] // 1000 + 1)
        else:
            state.remove()

        if rows:
            data = {by: pd.array([r[0] for r in rows], dtype="Int64")}
            for j, c in enumerate(id_cols, start=1):
                data[c] = pd.array([r[j] for r in rows], dtype="Int64")
            for j, c in enumerate(type_cols, start=1):
                data[c] = [r[n + j] for r in rows]
            data["end_ts_us"] = pd.array(
                [r[2 * n + 1] for r in rows], dtype="Int64"
            )
            yield pd.DataFrame(data)

    keyed = events.withWatermark(on, watermark_delay).withColumn(
        "_us", F.unix_micros(F.col(on).cast("timestamp_ltz"))
    )
    return keyed.groupBy(by).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_TRANS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def transitions_live_stream(
    events: DataFrame,
    watermark_delay: str = "10 seconds",
    by: str = "user_id",
    on: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-user adjacent-pair extraction over a LIVE event stream —
    the streamed feeder of q_event_transitions' Markov matrix
    (queries_timeseries.py). A pair (a → b) in (ts, id) order is only
    knowable once no event can still arrive BETWEEN a and b, i.e.
    when the watermark passes b's event time; an out-of-order arrival
    with an intermediate timestamp must split the pair it lands
    inside. Per-batch maps can't express that, so this is a custom
    stateful operator (applyInPandasWithState + EventTimeTimeout):

    - per key, state buffers the in-flight events as three primitive
      arrays (micros, id, type) sorted by (ts, id) — the batch
      query's total order, so ties can't flip pairs between runs;
    - every consecutive pair whose SECOND element the watermark has
      passed finalizes and is emitted exactly once; the buffer then
      keeps the last finalized element (the head of the next pair)
      plus everything still inside the horizon — state is O(horizon),
      not O(history);
    - keys holding a complete-but-unfinalized pair flush via
      EventTimeTimeout set to the pair-completing event's time: the
      watermark advancing is the flush signal, no poll loop.

    Emits one row per finalized pair. The tail (each user's newest
    event, plus anything inside the horizon at drain) stays pending —
    correct streaming behavior; the batch query is the verdict of
    record for the tail (the neardup_stream discipline). The drain
    test pins the emitted pair set EQUAL to the batch lead() pairs
    whose successor the final watermark passed.

    Since r8 this is the n=2 case of :func:`ngrams_live_stream`
    (one state machine, one finalization proof), re-projected to the
    original pair column contract."""
    out = ngrams_live_stream(
        events,
        n=2,
        watermark_delay=watermark_delay,
        by=by,
        on=on,
        type_col=type_col,
        id_col=id_col,
    )
    return out.select(
        F.col(by),
        F.col("id_1").alias("from_id"),
        F.col("id_2").alias("to_id"),
        F.col("type_1").alias("from_type"),
        F.col("type_2").alias("to_type"),
        F.col("end_ts_us").alias("to_ts_us"),
    )


# ---------------------------------------------------------------------
# TRUE streaming anomaly screen: trailing exclusive baseline, live
# ---------------------------------------------------------------------

_ANOM_STATE_SCHEMA = "ts array<bigint>, id array<bigint>, v array<double>"

_WEEK_US = 7 * 24 * 3_600_000_000


def anomalies_live_stream(
    events: DataFrame,
    watermark_delay: str = "10 seconds",
    by: str = "user_id",
    on: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """The rolling z-score anomaly screen (q_rolling_anomalies,
    queries_timeseries.py) served over a LIVE stream. An event's
    baseline is every STRICTLY-EARLIER event of the same user inside
    the trailing 7 days — so its verdict is knowable exactly when the
    watermark passes its event time (no earlier event can still
    arrive), and an out-of-order arrival correctly joins the
    baselines of the events it precedes. Same stateful envelope as
    transitions_live_stream:

    - per key, state buffers (micros, id, value) triples; events
      older than (watermark − 7 days) are evicted — they can sit in
      no future baseline, so state is O(7-day horizon per user), the
      bound a keyed-state streaming detector genuinely needs;
    - finalized events score against the buffered strictly-earlier
      slice with the batch query's exact semantics: integer-scaled
      sums reproduce the DECIMAL(18,4)-sum-then-one-double-cast
      value bit-for-bit, min-baseline-4 + var > 0 guards included;
    - EventTimeTimeout set to the earliest pending event flushes
      verdicts when the watermark advances with no new arrivals.

    Emits one row per FINALIZED event: (id, key, ts_us, n_base,
    zscore, is_anomaly). The drain test pins the streamed verdicts
    row-equal to the batch query on the events the final watermark
    passed."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{id_col} long, {by} long, ts_us long,"
        " n_base long, zscore double, is_anomaly int"
    )

    def _fn(key, pdfs, state: GroupState):
        buf: list[tuple[int, int, float]] = []
        if state.exists:
            s_ts, s_id, s_v = state.get
            buf = [
                (int(t), int(i), float(x))
                for t, i, x in zip(s_ts, s_id, s_v)
            ]
        for pdf in pdfs:
            if pdf.empty:
                continue
            for t, i, x in zip(
                pdf["_us"].astype("int64"),
                pdf[id_col].astype("int64"),
                pdf[value_col].astype("float64"),
            ):
                buf.append((int(t), int(i), float(x)))
        buf.sort()

        wm_us = state.getCurrentWatermarkMs() * 1000
        rows = []
        pend_ts = []
        for k, (t, i, x) in enumerate(buf):
            if t > wm_us:
                pend_ts.append(t)
                continue
            base = [
                bx
                for bt, _, bx in buf[:k]
                if bt >= t - _WEEK_US and bt < t
            ]
            n = len(base)
            z = None
            flag = 0
            if n >= 2:
                # EXACT batch semantics: the query sums DECIMAL(18,4)
                # casts, then casts the exact sum to double once.
                # Integer-scaled sums reproduce that bit-for-bit
                # (float(exact int) and decimal->double both round the
                # exact value to nearest once); a naive float
                # accumulation drifts ~1e-13 and can cross the 1e-4
                # quantizer's ties.
                vi = [round(b * 10000) for b in base]
                mean = (float(sum(vi)) / 10000.0) / n
                var = (
                    float(sum(q * q for q in vi)) / 1e8
                ) / n - mean * mean
                if var > 0:
                    zr = (x - mean) / math.sqrt(var)
                    # the batch query flags on the RAW z (the
                    # quantizer only shapes the emitted column)
                    flag = 1 if abs(zr) > 2.5 and n >= 4 else 0
                    z = math.floor(zr * 10000 + 0.5) / 10000
            rows.append((i, key[0], t, n, z, flag))

        # evict only what no FUTURE baseline can reach: future events
        # have ts > wm, their baselines reach back 7 days
        keep = [(t, i, x) for t, i, x in buf if t >= wm_us - _WEEK_US]
        if keep:
            state.update(
                (
                    [t for t, _, _ in keep],
                    [i for _, i, _ in keep],
                    [x for _, _, x in keep],
                )
            )
            if pend_ts:
                state.setTimeoutTimestamp(min(pend_ts) // 1000 + 1)
        else:
            state.remove()

        if rows:
            yield pd.DataFrame(
                {
                    id_col: pd.array([r[0] for r in rows], dtype="Int64"),
                    by: pd.array([r[1] for r in rows], dtype="Int64"),
                    "ts_us": pd.array([r[2] for r in rows], dtype="Int64"),
                    "n_base": pd.array([r[3] for r in rows], dtype="Int64"),
                    "zscore": pd.array([r[4] for r in rows], dtype="float64"),
                    "is_anomaly": pd.array(
                        [r[5] for r in rows], dtype="Int32"
                    ),
                }
            )

    keyed = events.withWatermark(on, watermark_delay).withColumn(
        "_us", F.unix_micros(F.col(on).cast("timestamp_ltz"))
    )
    return keyed.groupBy(by).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_ANOM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------
# Streamed active users: the idempotent set-union sink
# ---------------------------------------------------------------------


def active_users_stream(
    events: DataFrame,
    out_path: str,
    checkpoint: str,
    compact_every: int | None = None,
):
    """Streamed DAU/WAU/MAU state: each micro-batch's distinct
    (day, user_id) pairs land epoch-keyed; the snapshot unions and
    dedupes. Of the engine's streamed merge algebras (max-merge HLL,
    ADD-merge Count-Min, min-merge funnel, argmin/argmax OHLC) this
    is the degenerate-easy one — set union is idempotent AND
    associative, so a replayed epoch is harmless even before the
    epoch-keyed overwrite, and the compaction fold is a plain
    distinct. Per-batch state is bounded by the batch's own
    user-day spread; history lives in the sink."""

    def _do(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.select(
                F.to_date("ts").alias("day"), "user_id"
            )
            .distinct()
            .write.mode("overwrite")
            .parquet(f"{out_path}/epoch={int(epoch_id)}")
        )
        if compact_every:
            from clinvar_pipeline_spark.streaming.compaction import (
                compact,
                list_live_epochs,
            )

            spark = batch_df.sparkSession
            if len(list_live_epochs(spark, out_path)) > compact_every:
                compact(spark, out_path, fold=lambda df: df.distinct())

    return (
        events.writeStream.foreachBatch(_do)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def active_users_snapshot(spark: SparkSession, out_path: str) -> DataFrame:
    """The DAU/WAU/MAU report under everything drained so far —
    schema and values identical to the batch q_active_users."""
    from clinvar_pipeline_spark.queries_timeseries import (
        active_user_counts,
    )
    from clinvar_pipeline_spark.streaming.compaction import snapshot_parts

    parts = snapshot_parts(spark, out_path)
    if parts is None:
        return spark.createDataFrame(
            [], "day date, dau long, wau long, mau long"
        )
    return active_user_counts(parts.select("day", "user_id").distinct())


# ---------------------------------------------------------------------
# Streamed daily-count sink: one ADD-merged (event_type, day) frame
# serves the three calendar reports (the token-count-sink pattern on
# the events table)
# ---------------------------------------------------------------------


def daily_count_stream(
    events: DataFrame,
    deltas_path: str,
    checkpoint: str,
    compact_every: int | None = None,
):
    """Streaming (event_type, day) count/value sink: each micro-batch
    lands its daily partials as an epoch-keyed ADD-merge delta
    (exactly-once: a replayed epoch overwrites its own dir). The
    frame is queries_timeseries.daily_counts' exact shape — the
    sufficient statistics for dow_seasonality, type_correlation and
    weekly_growth — so one sink serves all three calendar reports.
    Compaction fold is the re-sum (linear by associativity of + on
    counts and DECIMAL value sums); deltas are |types| × |days|
    bounded per epoch."""
    from clinvar_pipeline_spark.queries_timeseries import daily_counts

    def _do(batch_df: DataFrame, epoch_id: int) -> None:
        daily_counts(batch_df).write.mode("overwrite").parquet(
            f"{deltas_path}/epoch={int(epoch_id)}"
        )
        if compact_every:
            from clinvar_pipeline_spark.streaming.compaction import (
                compact,
                list_live_epochs,
            )

            spark = batch_df.sparkSession
            if len(list_live_epochs(spark, deltas_path)) > compact_every:
                compact(spark, deltas_path, fold=_merge_daily)

    return (
        events.writeStream.foreachBatch(_do)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _merge_daily(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type", "day").agg(
        F.sum("n").alias("n"),
        F.sum("vsum").cast(DEC4).alias("vsum"),
    )


def daily_counts_snapshot(spark: SparkSession, deltas_path: str) -> DataFrame:
    """The merged (event_type, day, n, vsum) table under everything
    drained so far."""
    from clinvar_pipeline_spark.streaming.compaction import snapshot_parts

    parts = snapshot_parts(spark, deltas_path)
    if parts is None:
        return spark.createDataFrame(
            [], "event_type string, day date, n long, vsum decimal(18,4)"
        )
    return _merge_daily(parts)


def dow_snapshot(spark: SparkSession, deltas_path: str) -> DataFrame:
    """Weekday seasonality under everything drained — equals batch
    q_dow_seasonality."""
    from clinvar_pipeline_spark.queries_timeseries import (
        dow_seasonality_from_daily,
    )

    return dow_seasonality_from_daily(
        daily_counts_snapshot(spark, deltas_path).select(
            "event_type", "day", "n"
        )
    )


def weekly_growth_snapshot(spark: SparkSession, deltas_path: str) -> DataFrame:
    """WoW growth under everything drained — equals batch
    q_weekly_growth."""
    from clinvar_pipeline_spark.queries_timeseries import (
        weekly_growth_from_daily,
    )

    return weekly_growth_from_daily(daily_counts_snapshot(spark, deltas_path))


def correlation_snapshot(spark: SparkSession, deltas_path: str) -> DataFrame:
    """Cross-type Pearson matrix under everything drained — equals
    batch q_type_correlation; third report off the daily-count sink."""
    from clinvar_pipeline_spark.queries_timeseries import (
        type_correlation_from_daily,
    )

    return type_correlation_from_daily(
        daily_counts_snapshot(spark, deltas_path).select(
            "day", "event_type", "n"
        )
    )


def ewma_snapshot(spark: SparkSession, deltas_path: str) -> DataFrame:
    """Dyadic-decay daily EWMA under everything drained — equals batch
    q_ewma_daily; fourth report off the daily-count sink (the smoother
    consumes only the (event_type, day, n) sufficient statistics)."""
    from clinvar_pipeline_spark.queries_timeseries import ewma_from_daily

    return ewma_from_daily(
        daily_counts_snapshot(spark, deltas_path).select(
            "event_type", "day", "n"
        )
    )


# ---------------------------------------------------------------------
# Histogram quantile sketch, streamed: one ADD-merged register sink
# with a frozen bin domain (the DSIR/langid artifact lifecycle)
# ---------------------------------------------------------------------


def save_hist_bounds(spark: SparkSession, vmin: float, vmax: float,
                     path: str) -> None:
    spark.createDataFrame(
        [(float(vmin), float(vmax))], "vmin double, vmax double"
    ).write.mode("overwrite").parquet(path)


def load_hist_bounds(spark: SparkSession, path: str) -> tuple[float, float]:
    r = spark.read.parquet(path).first()
    return float(r["vmin"]), float(r["vmax"])


def hist_stream(
    events: DataFrame,
    bounds_path: str,
    deltas_path: str,
    checkpoint: str,
    compact_every: int | None = None,
):
    """Streaming value-histogram register sink: each micro-batch bins
    its values over the FROZEN [vmin, vmax] domain (saved once by the
    caller from the seed corpus — save_hist_bounds; post-freeze
    out-of-range arrivals clamp into the edge bins, counted never
    dropped) and lands the (key, bin, c) partials as an epoch-keyed
    ADD-merge delta. Registers are ≤ types × 1024 rows per epoch at
    any input size; the compaction fold is the re-sum (linear by
    associativity of +)."""
    from clinvar_pipeline_spark.operators.sketch import value_histogram

    def _do(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        vmin, vmax = load_hist_bounds(spark, bounds_path)
        value_histogram(batch_df, "event_type", "value", vmin, vmax).write.mode(
            "overwrite"
        ).parquet(f"{deltas_path}/epoch={int(epoch_id)}")
        if compact_every:
            from clinvar_pipeline_spark.streaming.compaction import (
                compact,
                list_live_epochs,
            )

            if len(list_live_epochs(spark, deltas_path)) > compact_every:
                compact(spark, deltas_path, fold=_merge_hist)

    return (
        events.writeStream.foreachBatch(_do)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _merge_hist(df: DataFrame) -> DataFrame:
    return df.groupBy("key", "bin").agg(F.sum("c").alias("c"))


def hist_quantiles_snapshot(
    spark: SparkSession, bounds_path: str, deltas_path: str
) -> DataFrame:
    """Quantile brackets under everything drained — equals batch
    q_histogram_quantiles when the frozen domain is the seed corpus's
    (the CLI seeds it from the full drop, so a static-drop drain is
    exactly the batch sketch)."""
    from clinvar_pipeline_spark.operators.sketch import (
        quantiles_from_histogram,
    )
    from clinvar_pipeline_spark.streaming.compaction import snapshot_parts

    vmin, vmax = load_hist_bounds(spark, bounds_path)
    parts = snapshot_parts(spark, deltas_path)
    if parts is None:
        return spark.createDataFrame(
            [],
            "key string, q_label string, n long, k long, bin long,"
            " lo double, hi double",
        )
    return quantiles_from_histogram(_merge_hist(parts), vmin, vmax)


def trend_snapshot(spark: SparkSession, deltas_path: str) -> DataFrame:
    """Mann-Kendall + Theil-Sen under everything drained — fifth
    report off the daily-count sink."""
    from clinvar_pipeline_spark.queries_timeseries import trend_from_daily

    return trend_from_daily(
        daily_counts_snapshot(spark, deltas_path).select(
            "event_type", "day", "n"
        )
    )


def changepoint_snapshot(spark: SparkSession, deltas_path: str) -> DataFrame:
    """CUSUM changepoint under everything drained — sixth report off
    the daily-count sink."""
    from clinvar_pipeline_spark.queries_timeseries import (
        changepoint_from_daily,
    )

    return changepoint_from_daily(
        daily_counts_snapshot(spark, deltas_path).select(
            "event_type", "day", "n"
        )
    )


def acf_snapshot(spark: SparkSession, deltas_path: str) -> DataFrame:
    """Autocorrelation under everything drained — seventh report off
    the daily-count sink."""
    from clinvar_pipeline_spark.queries_timeseries import acf_from_daily

    return acf_from_daily(
        daily_counts_snapshot(spark, deltas_path).select(
            "event_type", "day", "n"
        )
    )
