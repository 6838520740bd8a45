"""DuckDB twin of the deterministic Q6 k-means quantizer.

operators/similarity._train_centroids_q6 runs every arithmetic step on
the 10^-6 integer lattice (integer-valued float64s: dots/sums exact in
IEEE at any accumulation order; the remaining sqrt/divide/floor steps
are single correctly-rounded ops both engines spell identically). This
module unrolls the SAME steps — quantize, strided init, `lloyd_iters`
Lloyd rounds, corpus assignment — as ANSI-SQL CTEs, so a DuckDB oracle
reproduces cell assignments, probe lists, candidate sets, and lattice
cosines bit-for-bit. The pagerank unrolled-CTE discipline
(queries_warehouse._pagerank_oracle) applied to the k-means fixpoint —
the fix for the rows-only ANN family's shared root cause.

Step-by-step parity map (numpy ↔ SQL):
- xq = floor(x·1e6 + 0.5)            ↔ floor(CAST(u AS DOUBLE)*1000000.0 + 0.5)
- u  = floor(xq/‖xq‖·1e6 + 0.5)      ↔ floor(xq / nn * 1000000.0 + 0.5),
                                        nn = sqrt(sum(xq*xq))  [exact sum]
- sample = first train_sample ids    ↔ row_number over raw ids
  (zero-norm rows then dropped)
- k = min(max(4, round(sqrt(N))), n) ↔ LEAST(GREATEST(4, floor(sqrt(N)+0.5)), ns)
- init j ← sample[(j·n)//k]          ↔ s.rn = (c.rn * ns) // k
- assign: argmax dot, first-max tie  ↔ row_number (dot DESC, cell ASC) = 1
- mean:  mq = floor(S/n + 0.5)       ↔ floor(sum(x)/count(*) + 0.5)
- renorm: floor(mq/‖mq‖·1e6 + 0.5)   ↔ same text; empty/zero-norm cell
                                        keeps previous centroid (LEFT JOIN
                                        + coalesce)
"""

from __future__ import annotations

Q12 = "1000000000000.0"  # 10^12: dot of two Q6 unit vectors ≈ cosine·1e12
Q6 = "1000000.0"


def _base_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    train_sample: int,
) -> list[str]:
    """Shared prologue: ``unitv`` (Q6 unit vectors, zero-norm rows
    dropped), ``smp`` (id-ordered bounded training sample with ranks),
    ``prm`` (sample size + derived coarse-cell count)."""
    i, v = id_col, vec_col
    return [
        f"raw AS MATERIALIZED (SELECT {i}, {v} FROM {table})",
        f"""qv AS MATERIALIZED (
        SELECT {i}, generate_subscripts({v}, 1) AS i,
               floor(CAST(unnest({v}) AS DOUBLE) * {Q6} + 0.5) AS xq
        FROM raw)""",
        f"""unitv AS MATERIALIZED (
        SELECT q.{i}, list(floor(q.xq / n.nn * {Q6} + 0.5) ORDER BY q.i) AS v
        FROM qv q
        JOIN (SELECT {i}, sqrt(sum(xq * xq)) AS nn FROM qv GROUP BY {i}) n
          USING ({i})
        WHERE n.nn > 0 GROUP BY q.{i})""",
        f"""smp AS MATERIALIZED (
        SELECT {i}, v, row_number() OVER (ORDER BY {i}) - 1 AS rn
        FROM unitv
        WHERE {i} IN (
            SELECT {i} FROM (
                SELECT {i}, row_number() OVER (ORDER BY {i}) - 1 AS rid
                FROM raw)
            WHERE rid < {train_sample}))""",
        f"""prm AS MATERIALIZED (
        SELECT count(*) AS ns,
               LEAST(GREATEST(4, CAST(floor(sqrt(CAST(
                   (SELECT count(*) FROM raw) AS DOUBLE)) + 0.5) AS BIGINT)),
                   count(*)) AS k
        FROM smp)""",
    ]


def kmeans_cells_ctes(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 10000,
    lloyd_iters: int = 5,
) -> str:
    """WITH-body fragment defining ``unitv`` (Q6 unit vectors, zero-norm
    rows dropped), ``cent{lloyd_iters}`` (trained centroids), and
    ``cells`` (= each vector's argmax cell, with its unit vector riding
    for downstream pair dots)."""
    i = id_col
    ctes = _base_ctes(table, id_col, vec_col, train_sample)
    ctes.append(
        """cent0 AS MATERIALIZED (
        SELECT c.rn AS cell, s.v AS cv
        FROM smp c, prm, smp s
        WHERE c.rn < prm.k AND s.rn = (c.rn * prm.ns) // prm.k)"""
    )
    for t in range(1, lloyd_iters + 1):
        p = t - 1
        ctes.append(
            f"""asg{t} AS MATERIALIZED (
        SELECT {i}, cell FROM (
            SELECT s.{i}, c.cell,
                   row_number() OVER (PARTITION BY s.{i}
                       ORDER BY list_dot_product(s.v, c.cv) DESC,
                                c.cell ASC) AS rk
            FROM smp s CROSS JOIN cent{p} c)
        WHERE rk = 1)"""
        )
        ctes.append(
            f"""agg{t} AS MATERIALIZED (
        SELECT cell, i, floor(sum(x) / count(*) + 0.5) AS mq
        FROM (SELECT a.cell, unnest(s.v) AS x,
                     generate_subscripts(s.v, 1) AS i
              FROM asg{t} a JOIN smp s USING ({i}))
        GROUP BY cell, i)"""
        )
        ctes.append(
            f"""upd{t} AS MATERIALIZED (
        SELECT a.cell,
               list(floor(a.mq / n.nn * {Q6} + 0.5) ORDER BY a.i) AS cv
        FROM agg{t} a
        JOIN (SELECT cell, sqrt(sum(mq * mq)) AS nn
              FROM agg{t} GROUP BY cell) n USING (cell)
        WHERE n.nn > 0 GROUP BY a.cell)"""
        )
        ctes.append(
            f"""cent{t} AS MATERIALIZED (
        SELECT c.cell, coalesce(u.cv, c.cv) AS cv
        FROM cent{p} c LEFT JOIN upd{t} u USING (cell))"""
        )
    ctes.append(
        f"""cells AS MATERIALIZED (
        SELECT {i}, v, cell FROM (
            SELECT u.{i}, u.v, c.cell,
                   row_number() OVER (PARTITION BY u.{i}
                       ORDER BY list_dot_product(u.v, c.cv) DESC,
                                c.cell ASC) AS rk
            FROM unitv u CROSS JOIN cent{lloyd_iters} c)
        WHERE rk = 1)"""
    )
    return ",\n    ".join(ctes)


def semantic_dedup_oracle(
    tau: float,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 10000,
    lloyd_iters: int = 5,
    cell_cap: int = 100_000,
) -> str:
    """Twin of operators/similarity.semantic_dedup:
    intra-cell pairs with lattice cosine ≥ tau; each dropped id keeps
    its SMALLEST-id qualifying neighbor. The tau comparison is on the
    raw integer dot against the Python-computed tau·1e12 double
    (inlined — the identical constant Spark's lit(tau)*lit(1e12)
    produces); the emitted sim is qround6(dot/1e12)."""
    i = id_col
    tau_q = repr(tau * 1.0e12)
    body = kmeans_cells_ctes(table, id_col, vec_col, train_sample, lloyd_iters)
    return f"""
    WITH {body}
    SELECT {i}, kept_by, floor(dot / {Q12} * {Q6} + 0.5) / {Q6} AS sim
    FROM (
        SELECT b.{i} AS {i}, a.{i} AS kept_by,
               list_dot_product(a.v, b.v) AS dot,
               row_number() OVER (PARTITION BY b.{i}
                                  ORDER BY a.{i} ASC) AS rk
        FROM cells a
        JOIN cells b ON a.cell = b.cell AND a.{i} < b.{i}
        WHERE a.cell NOT IN (SELECT cell FROM cells
                             GROUP BY cell HAVING count(*) > {cell_cap})
          AND list_dot_product(a.v, b.v) >= {tau_q})
    WHERE rk = 1
    """


def ann_topk_ivf_oracle(
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 10000,
    lloyd_iters: int = 5,
) -> str:
    """Twin of operators/similarity.ann_topk_ivf, self-search: probe
    lists = top max(4, k_cells//4) cells per query (dot DESC, cell
    ASC — row_number naturally clamps when fewer cells exist),
    candidates = probed-cell join, re-rank on the raw integer
    dot (ties nn_id ASC), emit qround6 lattice cosine + int rank."""
    i = id_col
    body = kmeans_cells_ctes(table, id_col, vec_col, train_sample, lloyd_iters)
    return f"""
    WITH {body},
    prb AS MATERIALIZED (
        SELECT {i} AS query_id, cell FROM (
            SELECT u.{i}, c.cell,
                   row_number() OVER (PARTITION BY u.{i}
                       ORDER BY list_dot_product(u.v, c.cv) DESC,
                                c.cell ASC) AS rk
            FROM unitv u CROSS JOIN cent{lloyd_iters} c)
        WHERE rk <= (SELECT GREATEST(4, count(*) // 4)
                     FROM cent{lloyd_iters})),
    cand AS MATERIALIZED (
        SELECT DISTINCT p.query_id, c.{i} AS nn_id
        FROM prb p JOIN (SELECT {i}, cell FROM cells) c USING (cell)
        WHERE p.query_id <> c.{i}),
    sc AS MATERIALIZED (
        SELECT cand.query_id, cand.nn_id,
               list_dot_product(qa.v, qb.v) AS dot
        FROM cand
        JOIN unitv qa ON qa.{i} = cand.query_id
        JOIN unitv qb ON qb.{i} = cand.nn_id)
    SELECT query_id, nn_id,
           floor(dot / {Q12} * {Q6} + 0.5) / {Q6} AS cos_sim,
           CAST(rk AS INT) AS rk
    FROM (SELECT query_id, nn_id, dot,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dot DESC, nn_id ASC) AS rk
          FROM sc)
    WHERE rk <= {k}
    """


def _d2(a: str, b: str) -> str:
    """Squared euclidean distance of two integer-lattice lists, every
    term an exact integer: |a|² + |b|² − 2·a·b (the numpy side computes
    the same integer via s2[:,None] + c2[None,:] − 2·S@C.T)."""
    return (
        f"list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
        f" - 2 * list_dot_product({a}, {b})"
    )


def pq_ctes(
    n_subspaces: int = 8,
    pq_k: int = 256,
    lloyd_iters: int = 5,
    id_col: str = "vec_id",
) -> list[str]:
    """CTE fragments for the deterministic PQ codebooks — twin of
    operators/similarity._train_pq_codebooks_q6. Assumes the
    _base_ctes names (unitv, smp, prm) are in scope. Defines ``csub``
    (every vector's per-subspace Q6 subvectors), ``book{lloyd_iters}``
    (trained codebooks, keyed (m, code)), and ``enc`` (every vector's
    per-subspace argmin code, ties to the lowest code)."""
    i = id_col
    T = lloyd_iters
    ctes = [
        f"""pdim AS MATERIALIZED (
        SELECT len(v) // {n_subspaces} AS dsub FROM unitv LIMIT 1)""",
        f"""csub AS MATERIALIZED (
        SELECT {i}, m, list(x ORDER BY si) AS sv FROM (
            SELECT {i}, (ii - 1) // (SELECT dsub FROM pdim) AS m,
                   (ii - 1) % (SELECT dsub FROM pdim) AS si, x
            FROM (SELECT {i}, unnest(v) AS x,
                         generate_subscripts(v, 1) AS ii FROM unitv))
        GROUP BY {i}, m)""",
        f"""psmp AS MATERIALIZED (
        SELECT c.{i}, c.m, c.sv, s.rn
        FROM csub c JOIN smp s USING ({i}))""",
        f"""ssub AS MATERIALIZED (
        SELECT {i}, m, si, x FROM (
            SELECT {i}, m, unnest(sv) AS x,
                   generate_subscripts(sv, 1) AS si FROM psmp))""",
        f"""pprm AS MATERIALIZED (
        SELECT LEAST({pq_k}, (SELECT ns FROM prm)) AS kk)""",
        """book0 AS MATERIALIZED (
        SELECT c.rn AS code, s.m, s.sv AS cv
        FROM (SELECT DISTINCT rn FROM smp) c, pprm, prm, psmp s
        WHERE c.rn < pprm.kk AND s.rn = (c.rn * prm.ns) // pprm.kk)""",
    ]
    for t in range(1, T + 1):
        p = t - 1
        ctes.append(
            f"""pasg{t} AS MATERIALIZED (
        SELECT {i}, m, code FROM (
            SELECT s.{i}, s.m, b.code,
                   row_number() OVER (PARTITION BY s.{i}, s.m
                       ORDER BY {_d2('s.sv', 'b.cv')} ASC,
                                b.code ASC) AS rk
            FROM psmp s JOIN book{p} b ON b.m = s.m)
        WHERE rk = 1)"""
        )
        ctes.append(
            f"""pagg{t} AS MATERIALIZED (
        SELECT m, code, si, floor(sum(x) / count(*) + 0.5) AS mq
        FROM (SELECT a.m, a.code, ss.si, ss.x
              FROM pasg{t} a
              JOIN ssub ss ON ss.{i} = a.{i} AND ss.m = a.m)
        GROUP BY m, code, si)"""
        )
        ctes.append(
            f"""pupd{t} AS MATERIALIZED (
        SELECT m, code, list(mq ORDER BY si) AS cv
        FROM pagg{t} GROUP BY m, code)"""
        )
        ctes.append(
            f"""book{t} AS MATERIALIZED (
        SELECT b.m, b.code, coalesce(u.cv, b.cv) AS cv
        FROM book{p} b
        LEFT JOIN pupd{t} u ON u.m = b.m AND u.code = b.code)"""
        )
    ctes.append(
        f"""enc AS MATERIALIZED (
        SELECT {i}, m, code FROM (
            SELECT c.{i}, c.m, b.code,
                   row_number() OVER (PARTITION BY c.{i}, c.m
                       ORDER BY {_d2('c.sv', 'b.cv')} ASC,
                                b.code ASC) AS rk
            FROM csub c JOIN book{T} b ON b.m = c.m)
        WHERE rk = 1)"""
    )
    return ctes


def _pq_final(i: str, k: int, rerank: int, lloyd_iters: int,
              allowed_join: str) -> str:
    """ADC pool + lattice-cosine re-rank tail shared by the PQ and
    IVF-PQ oracles. ``allowed_join`` restricts scored pairs (empty for
    the pure scan; the probed-cell semijoin for IVF-PQ)."""
    return f"""
    qlut AS MATERIALIZED (
        SELECT q.{i} AS query_id, b.m, b.code,
               list_dot_product(q.sv, b.cv) AS lut
        FROM csub q JOIN book{lloyd_iters} b ON b.m = q.m),
    adc AS MATERIALIZED (
        SELECT l.query_id, e.{i} AS nn_id, sum(l.lut) AS adc
        FROM enc e
        JOIN qlut l ON l.m = e.m AND l.code = e.code
        {allowed_join}
        WHERE l.query_id <> e.{i}
        GROUP BY l.query_id, e.{i}),
    pool AS MATERIALIZED (
        SELECT query_id, nn_id FROM (
            SELECT query_id, nn_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY adc DESC, nn_id ASC) AS rk
            FROM adc)
        WHERE rk <= {rerank}),
    sc AS MATERIALIZED (
        SELECT pool.query_id, pool.nn_id,
               list_dot_product(qa.v, qb.v) AS dot
        FROM pool
        JOIN unitv qa ON qa.{i} = pool.query_id
        JOIN unitv qb ON qb.{i} = pool.nn_id)
    SELECT query_id, nn_id,
           floor(dot / {Q12} * {Q6} + 0.5) / {Q6} AS cos_sim,
           CAST(rk AS INT) AS rk
    FROM (SELECT query_id, nn_id, dot,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dot DESC, nn_id ASC) AS rk
          FROM sc)
    WHERE rk <= {k}
    """


def ann_topk_pq_oracle(
    k: int = 5,
    rerank: int = 20,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    pq_k: int = 256,
    train_sample: int = 10000,
    lloyd_iters: int = 5,
) -> str:
    """Twin of operators/similarity.ann_topk_pq, self-search pure scan:
    deterministic PQ codebooks, integer ADC over every (query, code)
    pair, global top-``rerank`` pool (adc DESC, nn_id ASC), lattice-
    cosine re-rank."""
    body = ",\n    ".join(
        _base_ctes(table, id_col, vec_col, train_sample)
        + pq_ctes(n_subspaces, pq_k, lloyd_iters, id_col)
    )
    return f"WITH {body},\n{_pq_final(id_col, k, rerank, lloyd_iters, '')}"


def ann_topk_ivfpq_oracle(
    k: int = 5,
    rerank: int = 20,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    pq_k: int = 256,
    train_sample: int = 10000,
    lloyd_iters: int = 5,
) -> str:
    """Twin of operators/similarity.ann_topk_pq(ivf=True): the coarse
    quantizer prunes WHAT is scored (a query only scores candidates
    whose cell is in its probe list — the probed-cell semijoin below
    == the Spark path's probed-union filter + per-query −inf mask),
    PQ codes decide HOW (integer ADC), then the shared pool/re-rank."""
    i = id_col
    body = ",\n    ".join(
        [kmeans_cells_ctes(table, id_col, vec_col, train_sample,
                           lloyd_iters)]
        + pq_ctes(n_subspaces, pq_k, lloyd_iters, id_col)
    )
    prb = f"""
    prb AS MATERIALIZED (
        SELECT {i} AS query_id, cell FROM (
            SELECT u.{i}, c.cell,
                   row_number() OVER (PARTITION BY u.{i}
                       ORDER BY list_dot_product(u.v, c.cv) DESC,
                                c.cell ASC) AS rk
            FROM unitv u CROSS JOIN cent{lloyd_iters} c)
        WHERE rk <= (SELECT GREATEST(4, count(*) // 4)
                     FROM cent{lloyd_iters})),
    allowed AS MATERIALIZED (
        SELECT p.query_id, c.{i} AS nn_id
        FROM prb p JOIN (SELECT {i}, cell FROM cells) c USING (cell)),
    """
    allowed_join = (
        f"JOIN allowed a ON a.query_id = l.query_id AND a.nn_id = e.{i}"
    )
    return (
        f"WITH {body},{prb}"
        f"{_pq_final(i, k, rerank, lloyd_iters, allowed_join)}"
    )
