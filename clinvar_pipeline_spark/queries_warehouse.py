"""Warehouse / lakehouse staples (round 8): the table-maintenance and
layout operators a production Spark shop runs daily, each attested
against a DuckDB oracle:

- scd2_history — Slowly-Changing-Dimension Type 2 interval build from
  a change feed (gaps-and-islands run collapse + validity intervals).
  The reference's nightly upsert (Loader.java:25-87, our
  operators/diff_sync.py) is exactly SCD Type 1 — newest value wins,
  history discarded; SCD2 is the history-keeping variant every
  warehouse needs next to it.
- table_profile — deequ-style one-pass column profile (null count,
  distinct count, min/max per column) emitted long-format, the data-
  quality screen run before a table is promoted.
- pagerank — the canonical iterative dataflow (Page et al. 1999) over
  the customer↔supplier purchase graph, next to the dedup family's
  connected components (operators/graph.py): fixed-iteration,
  engine-deterministic by the qround + DECIMAL-sum discipline, so the
  oracle (the same iterations unrolled as SQL CTEs) matches every
  rank bit-for-bit.
- zorder_key — the Z-order (Morton) interleave key used for
  multi-dimensional data-skipping file layout; operators/layout.py
  writes the clustered files and tests prove the row-group pruning
  both ways (a time-sorted layout prunes time probes only; Z-order
  prunes user AND time probes).

Scale notes are per-query. None of these shapes collects unbounded
state to the driver; pagerank's only scalar is the node count (a
1-row action, the sanctioned-collect list in audit.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clinvar_pipeline_spark.operators.graph import _release_checkpoint
from clinvar_pipeline_spark.operators.temporal import asof_join
from clinvar_pipeline_spark.queries import (
    _persist,
    _spread,
    _t,
    memo,
    qround,
    register,
)

# ---------------------------------------------------------------------
# SCD Type 2
# ---------------------------------------------------------------------

# the run-collapse CTE chain, shared by the scd2_history oracle and the
# point-in-time lookup's oracle (which re-derives the same intervals)
_SCD2_CTES = """seq AS (
        SELECT o_custkey AS custkey, o_orderpriority AS attr,
               o_orderdate AS ts, o_orderkey AS ok,
               lag(o_orderpriority) OVER
                   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                   AS prev
        FROM orders),
    runs AS (
        SELECT custkey, attr, ts,
               sum(CASE WHEN prev IS NULL OR prev <> attr THEN 1 ELSE 0 END)
                   OVER (PARTITION BY custkey ORDER BY ts, ok
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS version
        FROM seq),
    grp AS (
        SELECT custkey, version, min(attr) AS priority,
               min(ts) AS valid_from, count(*) AS n_orders
        FROM runs GROUP BY custkey, version),
    hist AS (
        SELECT custkey, CAST(version AS BIGINT) AS version, priority,
               valid_from,
               lead(valid_from) OVER
                   (PARTITION BY custkey ORDER BY version) AS valid_to,
               n_orders
        FROM grp)"""


def scd2_frame(orders: DataFrame) -> DataFrame:
    """The SCD2 interval frame (custkey, version, priority, valid_from,
    valid_to, n_orders, is_current) — shared by the history query and
    the point-in-time lookup."""
    w = Window.partitionBy("custkey").orderBy("ts", "ok")
    seq = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("attr"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("ok"),
    ).withColumn("prev", F.lag("attr").over(w))
    runs = seq.withColumn(
        "version",
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("prev") != F.col("attr")), 1
            ).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    grp = runs.groupBy("custkey", "version").agg(
        F.min("attr").alias("priority"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w2 = Window.partitionBy("custkey").orderBy("version")
    nxt = F.lead("valid_from").over(w2)
    return grp.select(
        "custkey",
        F.col("version").cast("long").alias("version"),
        "priority",
        "valid_from",
        nxt.alias("valid_to"),
        "n_orders",
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).cast("long").alias(
            "is_current"
        ),
    )


@register(
    "scd2_history",
    f"""
    WITH {_SCD2_CTES}
    SELECT custkey, version, priority, valid_from, valid_to, n_orders,
           CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_current
    FROM hist
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension build: treat each customer's order stream
    as a change feed for the `o_orderpriority` attribute and emit one
    validity-interval row per attribute RUN — [valid_from, valid_to)
    half-open, NULL-open current row flagged. The run collapse is the
    gaps-and-islands idiom: a change flag from lag(), a running sum of
    flags as the run (version) id, one group per run. Total order
    within a customer is (o_orderdate, o_orderkey) — the key tiebreak
    makes same-day orders deterministic (the DEC4/rounded-rank
    discipline applied to ordering).

    Scale: both windows and the groupBy partition by custkey — the
    change feed never forms a global sequence, so the build is
    parallel at any customer count. Three exchanges total (custkey
    window; (custkey, version) group; custkey window for lead); the
    run count per key is bounded by that key's row count, so state
    per task is one partition's rows, exactly like the reference's
    per-variant diff but with history kept (diff_sync.py:40 keeps
    only the newest value — SCD1)."""
    return scd2_frame(_t(spark, sf_dir, "orders"))


@register(
    "scd2_point_in_time",
    f"""
    WITH {_SCD2_CTES}
    SELECT o.o_orderkey AS ok, o.o_custkey AS custkey,
           o.o_orderdate AS ts, h.version, h.priority,
           CAST(CASE WHEN h.priority = o.o_orderpriority
                THEN 1 ELSE 0 END AS BIGINT) AS matches_own
    FROM orders o JOIN hist h
      ON h.custkey = o.o_custkey
     AND h.valid_from <= o.o_orderdate
     AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
    """,
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup — the CONSUMPTION side of SCD2:
    each order is enriched with the priority version valid AT its
    order date. The oracle states the semantics as interval
    containment (valid_from <= d < valid_to); the Spark side executes
    it as a backward AS-OF join on valid_from with the max-version
    tiebreak (operators/temporal.asof_join) — the two are equivalent
    because versions partition the timeline per key: the highest
    version whose valid_from <= d is exactly the interval containing
    d, and on same-instant version boundaries (two runs starting the
    same day) the max-version tiebreak picks the interval the
    containment rule keeps non-empty.

    ``matches_own`` audits the round-trip: an order's looked-up
    priority equals its own except for orders superseded INSIDE their
    own day by a later same-day run — surfaced as data, not hidden.

    Scale: the interval containment join would be a nested loop in
    naive form; the as-of formulation is one union + one per-key
    window pass (no join operator at all) — the asof_attribution plan
    shape applied to dimension lookup."""
    o = _t(spark, sf_dir, "orders")
    probe = o.select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderpriority").alias("own"),
    )
    hist = scd2_frame(o).select(
        "custkey",
        F.col("valid_from").alias("ts"),
        "version",
        "priority",
    )
    looked = asof_join(
        probe,
        hist,
        on="ts",
        by=["custkey"],
        direction="backward",
        tiebreak_col="version",
    )
    return looked.select(
        "ok",
        "custkey",
        "ts",
        "version",
        "priority",
        F.when(F.col("priority") == F.col("own"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("matches_own"),
    )


# ---------------------------------------------------------------------
# Column profiler
# ---------------------------------------------------------------------

# (column, kind) in a fixed order; kind drives which min/max slot the
# profile fills. Timestamps profile as epoch microseconds (exact in a
# double up to year ~2255) — engine-neutral, unlike rendered strings.
_PROFILE_COLS = [
    ("l_orderkey", "num"),
    ("l_partkey", "num"),
    ("l_suppkey", "num"),
    ("l_linenumber", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
]


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            lo = f"round(CAST(min({c}) AS DOUBLE), 4)"
            hi = f"round(CAST(max({c}) AS DOUBLE), 4)"
            los, his = "NULL", "NULL"
        elif kind == "ts":
            lo = f"round(CAST(epoch_us(min({c})) AS DOUBLE), 4)"
            hi = f"round(CAST(epoch_us(max({c})) AS DOUBLE), 4)"
            los, his = "NULL", "NULL"
        else:
            lo, hi = "NULL", "NULL"
            los, his = f"min({c})", f"max({c})"
        parts.append(
            f"""SELECT '{c}' AS col_name, '{kind}' AS kind,
                   count(*) - count({c}) AS n_null,
                   count(DISTINCT {c}) AS n_distinct,
                   {lo} AS min_num, {hi} AS max_num,
                   CAST({los} AS VARCHAR) AS min_str,
                   CAST({his} AS VARCHAR) AS max_str
            FROM lineitem"""
        )
    return "\nUNION ALL\n".join(parts)


@register("table_profile", _profile_oracle())
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of `lineitem` (deequ/DQ-gate shape):
    per column its null count, exact distinct count, and min/max —
    numeric/timestamp columns in the numeric slots (timestamps as
    epoch micros: exact in a double, engine-neutral where rendered
    timestamp strings are not), strings in the string slots. Emitted
    long-format (one row per column) so the profile's schema is
    stable under table-schema drift.

    Scale (r11, guide §2.3 aggregate-before-shuffle): the N distinct
    counts are N independent two-stage aggregations — per column a
    single-column pruned scan, map-side dedup on that column alone,
    one narrow exchange of per-partition distinct values, merge+count
    — unioned long-format and equi-joined (broadcast: N rows) onto the
    one-pass min/max/null profile row, exploded long. The previous
    single-agg form planned the N distincts via Expand (one row per
    distinct-column per input row): 11× the input rows flowed through
    ONE partial aggregate whose hash key was the full 10-column struct
    and whose 40 aggregate buffers were branch-evaluated per Expand
    row — measured 83 s CPU at sf0.1 vs ~17 s for the decomposed form
    (plans/r11/table_profile_{before,after}.txt). The branches are
    independent leaf stages of one plan, so they run concurrently;
    per-branch I/O is one pruned column, so total bytes read ≈ one
    full-width scan, now split across 11 parallel single-column scans.
    At extreme width, the sketch family (operators/sketch.py) remains
    the documented approximate twin for the distinct slot."""
    li = _t(spark, sf_dir, "lineitem")
    aggs, rows = [], []
    dist_frames = []
    for c, kind in _PROFILE_COLS:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__null")
        )
        dist_frames.append(
            li.select(c)
            .agg(F.count_distinct(F.col(c)).alias("n_distinct"))
            .select(F.lit(c).alias("col_name"), "n_distinct")
        )
        if kind == "num":
            aggs.append(F.round(F.min(c).cast("double"), 4).alias(f"{c}__min"))
            aggs.append(F.round(F.max(c).cast("double"), 4).alias(f"{c}__max"))
        elif kind == "ts":
            aggs.append(
                F.round(F.unix_micros(F.min(c)).cast("double"), 4).alias(
                    f"{c}__min"
                )
            )
            aggs.append(
                F.round(F.unix_micros(F.max(c)).cast("double"), 4).alias(
                    f"{c}__max"
                )
            )
        else:
            aggs.append(F.min(c).alias(f"{c}__min"))
            aggs.append(F.max(c).alias(f"{c}__max"))
    one = li.agg(*aggs)
    dists = dist_frames[0]
    for d in dist_frames[1:]:
        dists = dists.unionAll(d)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    for c, kind in _PROFILE_COLS:
        is_num = kind in ("num", "ts")
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.lit(kind).alias("kind"),
                F.col(f"{c}__null").alias("n_null"),
                (F.col(f"{c}__min") if is_num else null_d).alias("min_num"),
                (F.col(f"{c}__max") if is_num else null_d).alias("max_num"),
                (
                    F.col(f"{c}__min").cast("string") if not is_num else null_s
                ).alias("min_str"),
                (
                    F.col(f"{c}__max").cast("string") if not is_num else null_s
                ).alias("max_str"),
            )
        )
    prof = one.select(F.explode(F.array(*rows)).alias("p")).select("p.*")
    return prof.join(F.broadcast(dists), "col_name").select(
        "col_name",
        "kind",
        "n_null",
        "n_distinct",
        "min_num",
        "max_num",
        "min_str",
        "max_str",
    )


# ---------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------

_PR_ITERS = 6
_PR_DAMP = 0.85
_PR_Q = "1000000000000.0"  # 10^12 — qround scale 12, spelled textually


def _pagerank_oracle() -> str:
    """The same six iterations unrolled as SQL CTEs. Every arithmetic
    step is spelled as the identical IEEE sequence the Spark side
    executes (qround = floor(x*1e12+0.5)/1e12; contribution sums in
    DECIMAL(38,12)), so the ranks match bit-for-bit — the engine-
    portable-iteration discipline from the CC/recursive-CTE pairing
    applied to a numeric fixpoint."""
    ctes = [
        """eraw AS (
        SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS u,
                        's:' || CAST(l_suppkey AS VARCHAR) AS v
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
        """edges AS (
        SELECT u AS src, v AS dst FROM eraw
        UNION ALL
        SELECT v AS src, u AS dst FROM eraw)""",
        "deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        "r0 AS (SELECT node, deg, 1.0 / (SELECT n FROM nn) AS r FROM deg)",
    ]
    for i in range(1, _PR_ITERS + 1):
        ctes.append(
            f"""r{i} AS (
        SELECT d.node, d.deg,
               floor((0.15 / (SELECT n FROM nn) + 0.85 * CAST(
                   sum(CAST(floor(p.r / p.deg * {_PR_Q} + 0.5) / {_PR_Q}
                       AS DECIMAL(38,12))) AS DOUBLE)) * {_PR_Q} + 0.5)
                   / {_PR_Q} AS r
        FROM deg d
        JOIN edges e ON e.dst = d.node
        JOIN r{i - 1} p ON p.node = e.src
        GROUP BY d.node, d.deg)"""
        )
    body = ",\n    ".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT node, CAST(deg AS BIGINT) AS deg, r AS rank\n"
        f"FROM r{_PR_ITERS}"
    )


@register("pagerank", _pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (6 iterations, d=0.85) over the bidirected
    customer↔supplier purchase graph (an edge per distinct
    (customer, supplier) trade pair from orders⋈lineitem) — the
    canonical iterative dataflow, the numeric sibling of the dedup
    family's connected components (operators/graph.py).

    Engine determinism: each iteration's contribution r/deg is
    quantized to 12 dp (qround — floor/multiply/add, the same IEEE
    sequence both engines), contributions SUM IN DECIMAL(38,12)
    (exact, order-independent — the centroid-mean lesson), and the
    damped update is re-quantized; the oracle unrolls the identical
    iterations as CTEs, so ranks match bit-for-bit, not just within
    tolerance.

    Scale: per iteration one shuffle join (ranks⋈edges on src; the
    rank frame is node-sized — broadcast at test SF by AQE, a
    co-partitioned shuffle join at 100 TB where nodes outgrow
    broadcast) and one dst-keyed groupBy whose DECIMAL sum combines
    map-side. The evolving state is one node-sized frame,
    localCheckpoint-ed per round so the logical plan stays flat (the
    CC lineage lesson, graph.py:72). The only driver scalar is the
    node count (1-row action, sanctioned)."""
    return pagerank(spark, sf_dir, exact=True)


def _rank_frame_outgrows_broadcast(spark: SparkSession, n_nodes: int) -> bool:
    """True when the node-sized rank frame (node LONG, deg LONG,
    r DOUBLE — ~24 payload bytes, budgeted at 64/row with row
    overhead, the planner's own order of magnitude) exceeds the
    session's autoBroadcastJoinThreshold, i.e. when the per-round
    edges⋈ranks join will be a SHUFFLE join and pre-partitioning the
    edge cache on src pays. Threshold <= 0 means broadcast is
    disabled, so the shuffle shape is certain."""
    try:
        thresh = int(
            spark._jsparkSession.sessionState().conf()
            .autoBroadcastJoinThreshold()
        )
    except Exception:
        thresh = 10 * 1024 * 1024  # the Spark default
    return thresh <= 0 or n_nodes * 64 > thresh


def _pagerank_node_count(spark: SparkSession, sf_dir: str) -> int:
    """Distinct node count of the customer⋈supplier co-purchase graph
    — a corpus-derived SCALAR, memoized on the edge frame like
    queries_llm._corpus_token_total (r11, guide §5): re-deriving it
    per plan build re-ran the full edge-build pipeline (orders⋈lineitem
    + distinct + degree agg) as a serial count job on EVERY invocation
    (~1-1.5 s wall at sf0.1) before round 1 could start. The value is
    deterministic from the parquet inputs and folds into the plan as a
    literal; every action still computes from the files.

    The count runs on its OWN twin frame, not the caller's persisted
    edges/deg frames — counting those would materialize their caches
    during plan BUILD and make the captured plan depend on memo
    warmth (the _corpus_token_total order-stability lesson)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    eraw = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    # distinct sources of the symmetrized edge set == deg.count();
    # explode instead of unionAll so the o⋈li+distinct subtree runs
    # once, not twice (r12, same fix as the edge build)
    return memo(
        ("pagerank_node_count",),
        eraw,
        lambda: eraw.select(F.explode(F.array("u", "v")).alias("n"))
        .distinct()
        .count(),
    )


def pagerank(
    spark: SparkSession,
    sf_dir: str,
    exact: bool = True,
    checkpoint_every: int = 3,
) -> DataFrame:
    """PageRank with two numeric modes sharing ONE plan shape (same
    joins, same agg, same every-``checkpoint_every``-rounds
    localCheckpoint cadence):

    - ``exact=True`` (the oracle-attested registry query): per-step
      qround(12) + DECIMAL(38,12) contribution sums — bit-for-bit
      reproducible in DuckDB at the cost of decimal arithmetic.
    - ``exact=False`` (the production serving path, r9 verdict ask
      #4): plain float64 contributions and sums. Order-dependent in
      the last ULPs (so no bit-exact cross-engine twin — it is NOT
      registered), but tests/test_pagerank_fast.py pins it against
      the exact path: identical top-k ordering and |Δrank| < 1e-9 at
      sf0.01. Benched as ``pagerank_fast`` (bench.py BENCH_EXTRA).

    Measured cost split at sf0.1 (r10, solo tier): exact 12.3 s warm,
    float64 9.7 s, float64 + checkpoint_every=0 ~8 s. So the
    bit-exactness discipline costs ~20-25% and each checkpoint
    barrier ~8% — the dominant term is the per-round join+agg barrier
    structure itself (~1.3 s/round on node-sized frames), which is
    what an iterative dataflow IS at test SF. At 100 TB the ordering
    inverts: per-round data work dominates and the DECIMAL-vs-float64
    delta scales with edge volume, which is why the serve path exists.
    ``checkpoint_every=0`` disables the lineage cut — safe for runs of
    ≲10 iterations (plan depth stays bounded); keep the default for
    long fixpoints."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # r11 (guide §2.3, narrower types): nodes iterate as LONGS —
    # custkey*2 / suppkey*2+1 is a bijection onto the oracle's
    # 'c:<custkey>' / 's:<suppkey>' strings, so every distinct, join,
    # and groupBy over the long key partitions rows exactly as the
    # string key did; the string is rendered once at the output
    # boundary. Halves the key bytes through every exchange and
    # replaces string hashing/equality with long ops on the per-round
    # edge-sized frames.
    # persisted: the pair set feeds the degree build + the
    # symmetrized edge build; deg feeds the rank init + the dst_deg
    # join
    #
    # r12 (guide §2.4 remove duplicated subtrees): symmetrize with ONE
    # explode instead of unionAll(eraw, eraw.swapped) — the union's
    # two branches each re-ran the orders⋈lineitem join + distinct
    # (stage_profile: one 64-task, 20.9 s-executor stage = two
    # identical 32-task subtrees). Row multiset is identical by
    # construction: explode(array((u,v),(v,u))) emits exactly the two
    # rows per distinct edge the union emitted. At 100 TB this halves
    # the scans+join work under the heaviest stage of the query.
    #
    # r12 (second pass, guide §5 cache what's small): the cache point
    # sits on the UN-symmetrized distinct pair set — half the rows of
    # the former symmetrized-edges cache. Degrees come from a map-side
    # explode(array(u, v)) of the cached pairs (identical multiset to
    # the symmetrized src column: u is even, v is odd, so u ≠ v and
    # each direction appears exactly once), and the loop's edge table
    # symmetrizes the same cache on its way into the dst_deg join —
    # one edge-sized materialization pass instead of two, ~33% less
    # cached edge state per invocation.
    eraw = _persist(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    deg = _persist(
        eraw.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    edges = eraw.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # r10: edges carry the DESTINATION's degree, so each round is ONE
    # join (edges⋈ranks on src) — the dst-keyed agg emits (node, deg,
    # r) directly and the former per-round deg⋈contrib join (6 extra
    # joins over the run) disappears. deg is functionally dependent on
    # dst, so grouping by (dst, dst_deg) sums the identical partials;
    # the DECIMAL arithmetic and qround spellings are untouched and
    # the oracle stays bit-for-bit. At 100 TB this halves the
    # per-round join work on the edge-sized frame.
    # corpus-derived scalar from the per-session memo (r11): the
    # serial per-invocation count job is gone; warm invocations start
    # round 1 immediately
    n_nodes = _pagerank_node_count(spark, sf_dir)
    edges = edges.join(
        deg.select(F.col("node").alias("dst"),
                   F.col("deg").alias("dst_deg")),
        "dst",
    )
    # r12 (guide §2.4 / §3.3): when the rank frame is too big to
    # broadcast, each round's edges⋈ranks is a shuffle join — so cache
    # the edge table HASH-PARTITIONED ON src (the per-round join key)
    # and EnsureRequirements shuffles only the node-sized rank frame
    # per round instead of the edge-sized table: 6 edge shuffles per
    # run -> 1 at cache build (plan probe with broadcast disabled:
    # plans/r12/pagerank_copart_{asis,srcpart}.txt — the per-round
    # Sort+Exchange(src) over the InMemoryTableScan disappears).
    # DATA-DRIVEN, not env-gated: the branch keys on the same decision
    # the planner makes (estimated rank bytes vs the session's
    # autoBroadcastJoinThreshold). Locally ranks broadcast (n_nodes ~
    # 10^3-10^4), the repartition would be pure build cost (measured:
    # pagerank warm 4.8-5.1 -> 5.2-5.6 s when forced on), so the shape
    # — and every committed plan/bench baseline — is unchanged at any
    # broadcastable node count. Width = defaultParallelism
    # (scale-adaptive, the vcf_export rule); value-neutral either way:
    # exact mode sums order-independent LONGS, and the fast path's
    # float64 ordering is already not bit-pinned (tolerance-tested).
    if _rank_frame_outgrows_broadcast(spark, n_nodes):
        edges = edges.repartition(
            spark.sparkContext.defaultParallelism, "src"
        )
    edges = _persist(edges)
    base = 0.15 / n_nodes  # same IEEE division the oracle's 0.15/n does
    ranks = deg.select("node", "deg", F.lit(1.0 / n_nodes).alias("r"))
    prev = None
    for i in range(_PR_ITERS):
        contrib_raw = F.col("r") / F.col("deg")
        # r11 exact mode (guide §2.3): the qround'd contribution is the
        # integer m = floor(r/deg·1e12 + 0.5) — sum the LONGS instead
        # of DECIMAL(38,12). Provably bit-identical to the decimal sum
        # the oracle spells: (a) the decimal cast of floor(..)/1e12
        # recovers exactly m·10^-12 (the double's error ~1e-16 is far
        # inside the 5e-13 half-ulp of scale 12), so the decimal sum IS
        # Σm at scale 12; (b) Σm never overflows: contributions per dst
        # sum to ≤ the total rank mass ≈ 1, i.e. ≤ ~1.2e12 raw — 2^63
        # has six orders of headroom at ANY node count; (c) the update
        # reads s/1e12 via exact long→double (s < 2^52) and one IEEE
        # division = nearest double of Σm·10^-12, exactly what
        # DECIMAL(38,12)→DOUBLE produces. Longs replace BigDecimal in
        # the per-round map-side combine — the hot loop's inner sum.
        if exact:
            c_expr = F.floor(contrib_raw * F.lit(1.0e12) + F.lit(0.5))
            update = F.lit(base) + F.lit(_PR_DAMP) * (
                F.col("s").cast("double") / F.lit(1.0e12)
            )
        else:
            c_expr = contrib_raw
            update = F.lit(base) + F.lit(_PR_DAMP) * F.col("s").cast("double")
        ranks = (
            edges.join(ranks, edges.src == ranks.node)
            .select(F.col("dst"), F.col("dst_deg"), c_expr.alias("c"))
            .groupBy("dst", "dst_deg")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                F.col("dst_deg").alias("deg"),
                (qround(update, 12) if exact else update).alias("r"),
            )
        )
        # checkpoint every N rounds, not every round: the lineage
        # only triples over 3 rounds (1 join + 1 agg each) while each
        # eager materialization is a full pipeline barrier — measured
        # at sf0.1 warm 15.3 -> 12.4 s; the remaining per-round cost
        # is the barrier structure itself, which is what an iterative
        # algorithm IS (at 100 TB the per-round real work dominates).
        # r12: never checkpoint the FINAL round — truncating lineage
        # only pays for rounds that come after, and the loop ends
        # here; the consumer computes the <=checkpoint_every tail
        # rounds directly (the same depth every mid-run segment has),
        # skipping one eager materialization barrier + one node-sized
        # block write per invocation
        if (
            checkpoint_every
            and i % checkpoint_every == checkpoint_every - 1
            and i < _PR_ITERS - 1
        ):
            ranks = ranks.localCheckpoint()
            if prev is not None:
                _release_checkpoint(prev)  # free the superseded round
            prev = ranks
    # render the oracle's node string once, at the output boundary
    return ranks.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c:"), F.expr("node DIV 2").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("s:"), F.expr("node DIV 2").cast("string"))
        )
        .alias("node"),
        F.col("deg").cast("long").alias("deg"),
        F.col("r").alias("rank"),
    )


# ---------------------------------------------------------------------
# Z-order layout key
# ---------------------------------------------------------------------

_Z_BITS = 16


def _z_sql_norm(col: str, lo: str, hi: str) -> str:
    """Min-max normalize to [0, 65535] — floor of an IEEE quotient,
    identical text both engines; constant column → 0."""
    return (
        f"CASE WHEN {hi} = {lo} THEN 0 ELSE CAST(floor((CAST({col} AS DOUBLE)"
        f" - {lo}) * 65535.0 / ({hi} - {lo})) AS BIGINT) END"
    )


def _zorder_oracle() -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(((ub >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((tb >> {i}) & 1) << {2 * i})")
    z = " + ".join(terms)
    un = _z_sql_norm("user_id", "(SELECT min(user_id) FROM events)",
                     "(SELECT max(user_id) FROM events)")
    tn = _z_sql_norm(
        "epoch_us(ts)",
        "(SELECT min(epoch_us(ts)) FROM events)",
        "(SELECT max(epoch_us(ts)) FROM events)",
    )
    return f"""
    WITH nrm AS (
        SELECT event_id, {un} AS ub, {tn} AS tb FROM events)
    SELECT event_id, CAST({z} AS BIGINT) AS zkey FROM nrm
    """


@register("zorder_key", _zorder_oracle())
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleave key over (user_id, event time):
    both dimensions min-max-normalized to 16 bits, bits interleaved
    user-high — the multi-dimensional clustering key behind
    OPTIMIZE ZORDER BY-style data skipping. Sorting files by this key
    gives every file a tight min/max box in BOTH dimensions, so a
    point or range predicate on EITHER column prunes row groups —
    where a single-column sort prunes only its own column.
    operators/layout.py writes the clustered layout;
    tests/test_layout.py proves the two-way pruning on real parquet
    footers.

    Scale: map-only expression work after two 1-row min/max
    aggregates (broadcast back as literals via a window-free join on
    a constant — no per-row driver state); the interleave itself is
    16 shift/mask terms per dimension, all whole-stage codegen."""
    ev = _t(spark, sf_dir, "events")
    # 1-row bounds frame; crossJoin of a 1-row broadcast is the
    # documented idle_rich_customers waiver shape (audit.py).
    bounds = ev.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.min(F.unix_micros("ts")).alias("tlo"),
        F.max(F.unix_micros("ts")).alias("thi"),
    )
    j = ev.select("event_id", "user_id", F.unix_micros("ts").alias("tus")).join(
        F.broadcast(bounds)
    )

    def norm(col: Column, lo: Column, hi: Column) -> Column:
        return (
            F.when(hi == lo, F.lit(0))
            .otherwise(
                F.floor(
                    (col.cast("double") - lo) * F.lit(65535.0) / (hi - lo)
                )
            )
            .cast("long")
        )

    ub = norm(F.col("user_id"), F.col("ulo"), F.col("uhi"))
    tb = norm(F.col("tus"), F.col("tlo"), F.col("thi"))
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(ub, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        z = z + F.shiftleft(F.shiftright(tb, i).bitwiseAND(F.lit(1)), 2 * i)
    return j.select("event_id", z.cast("long").alias("zkey"))


# ---------------------------------------------------------------------
# Referential-integrity audit
# ---------------------------------------------------------------------

# (relationship, child table, fk col, parent table, pk col) — the
# star schema's declared foreign keys, audited as data instead of
# trusted as metadata.
_FK_EDGES = [
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _fk_oracle() -> str:
    parts = []
    for rel, child, fk, parent, pk in _FK_EDGES:
        parts.append(
            f"""SELECT '{rel}' AS relationship,
                   (SELECT count(*) FROM {child}) AS n_child,
                   (SELECT count(*) FROM {child} c
                    WHERE c.{fk} IS NOT NULL AND NOT EXISTS
                      (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}))
                       AS n_orphan,
                   (SELECT count(*) FROM {child} WHERE {fk} IS NULL)
                       AS n_null_fk,
                   (SELECT count(*) FROM {parent} p WHERE NOT EXISTS
                      (SELECT 1 FROM {child} c WHERE c.{fk} = p.{pk}))
                       AS n_childless_parent"""
        )
    return "\nUNION ALL\n".join(parts)


@register("fk_integrity", _fk_oracle())
def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the star schema's seven
    declared foreign keys: per relationship the child row count,
    orphan count (non-null FK with no parent), null-FK count, and
    childless-parent count — the constraint check a lake has to run
    as a query because parquet enforces nothing (the deequ/DBT-test
    shape, completing table_profile's single-table profile with the
    cross-table half).

    Scale (r11 restructure, guide §2.3 aggregate-before-shuffle +
    §2.4 remove shuffles): all 14 single-column scans (7 edges x
    child-fk + parent-pk) union into ONE tall tagged stream, so the
    whole report is exactly TWO exchanges — per-(edge, key) counts,
    then per-edge totals. Per (edge, key): child rows with no parent
    key = orphans, parent keys with no child rows = childless, the
    null-fk group never collides with a parent key (TPCH pks are
    non-null) so it lands in n_null_fk. The map-side partial
    aggregation collapses each scan to its distinct keys before the
    edge tag ever crosses the wire. This replaces the per-edge chains
    of 2 anti-joins + base aggregate + two 1-row cross joins: the old
    shape ran 63 scheduler stages for 1.8 s of executor time — wall
    was pure AQE wave latency, not work. Count identity: the sum of
    per-key row counts is exactly count(*) over the underlying rows,
    duplicate parent keys included."""
    # one scan per TABLE: each table contributes all its (edge, key)
    # roles as an exploded struct array, so lineitem is read once for
    # its three fk columns instead of three times, and the whole
    # report runs 7 scans instead of 14
    roles: dict[str, list] = {}
    for rel, child, fk, parent, pk in _FK_EDGES:
        roles.setdefault(child, []).append((rel, fk, 1, 0))
        roles.setdefault(parent, []).append((rel, pk, 0, 1))
    parts = []
    for table, rs in roles.items():
        arr = F.array(
            *[
                F.struct(
                    F.lit(rel).alias("relationship"),
                    F.col(col).alias("k"),
                    F.lit(cc).alias("cc"),
                    F.lit(pc).alias("pc"),
                )
                for rel, col, cc, pc in rs
            ]
        )
        parts.append(
            _t(spark, sf_dir, table)
            .select(F.explode(arr).alias("r"))
            .select("r.relationship", "r.k", "r.cc", "r.pc")
        )
    tall = parts[0]
    for p2 in parts[1:]:
        tall = tall.unionAll(p2)
    per_key = tall.groupBy("relationship", "k").agg(
        F.sum("cc").alias("cnt"), F.sum("pc").alias("np")
    )
    return per_key.groupBy("relationship").agg(
        F.sum("cnt").alias("n_child"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("k").isNotNull() & (F.col("np") == 0),
                    F.col("cnt"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("n_orphan"),
        F.coalesce(
            F.sum(F.when(F.col("k").isNull(), F.col("cnt"))),
            F.lit(0).cast("long"),
        ).alias("n_null_fk"),
        F.coalesce(
            F.sum(F.when(F.col("cnt") == 0, F.col("np"))),
            F.lit(0).cast("long"),
        ).alias("n_childless_parent"),
    )


# ---------------------------------------------------------------------
# Cascade erasure (right-to-be-forgotten) audit
# ---------------------------------------------------------------------


@register(
    "erasure_audit",
    """
    WITH victims AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 101 = 0),
    vorders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM victims)),
    t AS (
        SELECT 'customer' AS table_name,
               (SELECT count(*) FROM victims) AS purged,
               (SELECT count(*) FROM customer) AS total
        UNION ALL
        SELECT 'orders',
               (SELECT count(*) FROM vorders),
               (SELECT count(*) FROM orders)
        UNION ALL
        SELECT 'lineitem',
               (SELECT count(*) FROM lineitem
                WHERE l_orderkey IN (SELECT o_orderkey FROM vorders)),
               (SELECT count(*) FROM lineitem))
    SELECT table_name, purged, total - purged AS kept
    FROM t
    """,
)
def q_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascade erasure audit — the right-to-be-forgotten job a lake
    runs as queries: a deletion-request set (deterministic stand-in:
    c_custkey % 101 = 0) propagates through the FK graph
    customer → orders → lineitem, and the audit emits per-table purge
    and survivor counts (the compliance evidence; the actual purge is
    the same anti-joins written back as a new snapshot — the W4/W5
    guarded-delete pattern without the threshold).

    Scale: each hop is one semi-join down the FK chain (victims and
    their order keys broadcast while they fit — a deletion batch is
    request-sized, not corpus-sized); counts are map-side-combined
    aggregates. No row of any fact table is ever collected."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    victims = _persist(
        cust.filter(F.col("c_custkey") % 101 == 0).select("c_custkey")
    )
    vorders = _persist(
        orders.join(
            victims, orders.o_custkey == victims.c_custkey, "left_semi"
        ).select("o_orderkey")
    )
    vline = li.join(
        vorders, li.l_orderkey == vorders.o_orderkey, "left_semi"
    )

    def stat(name: str, purged_df: DataFrame, total_df: DataFrame):
        p = purged_df.agg(F.count(F.lit(1)).alias("purged"))
        t = total_df.agg(F.count(F.lit(1)).alias("total"))
        return p.join(t).select(
            F.lit(name).alias("table_name"),
            "purged",
            (F.col("total") - F.col("purged")).alias("kept"),
        )
    return (
        stat("customer", victims, cust)
        .unionAll(stat("orders", vorders, orders))
        .unionAll(stat("lineitem", vline, li))
    )
