"""DuckDB twin of the engine-portable sign-LSH family.

The last rows-only hash family graduated (r9): hyperplane components
come from the md5-prefix generator (functions.hashes.lsh_plane_matrix_q
— first 16 bits of md5("lsh:{seed}:{t}:{p}:{d}") minus 32768, the
simhash md5-hex discipline applied to plane GENERATION), and every dot
runs on the Q6 integer lattice (functions/kmeans_oracle.py's
exactness argument), so buckets, multi-probe keys, candidate pairs,
and lattice cosines are bit-identical between the Spark kernels and
these unrolled CTEs.

Parity map (numpy ↔ SQL):
- plane w(t,p,d) = int(md5hex[:4], 16) - 32768
                     ↔ 4 hex-char strpos extractions · {4096,256,16,1}
- bucket bit p of table t = [Σ_d u_d·w_d > 0]   (exact integer dot)
- key = (t << P) + b; probes add xor(b, 1 << bit), bit < min(probes-1, P)
- ann candidates: probe keys ⋈ exact keys, self excluded, DISTINCT
- neardup candidates: id_a probes, id_b exact, id_a < id_b (the
  operator's asymmetric join — exact keys ⊆ probe keys, so coverage
  is unaffected)
- scores: list_dot_product of Q6 unit vectors; rank dot DESC, id ASC;
  emit floor(dot/1e12·1e6 + 0.5)/1e6
"""

from __future__ import annotations

from clinvar_pipeline_spark.functions.kmeans_oracle import Q6, Q12, _base_ctes

_HEX = "0123456789abcdef"


def _plane_cte(num_tables: int, num_planes: int, dim: int, seed: int) -> str:
    nib = [
        f"(strpos('{_HEX}', substr(h, {j + 1}, 1)) - 1) * {16 ** (3 - j)}"
        for j in range(4)
    ]
    w = " + ".join(nib) + " - 32768"
    return f"""pl AS MATERIALIZED (
        SELECT tt AS t, pp AS p, dd AS d, CAST({w} AS DOUBLE) AS w
        FROM (
            SELECT t.range AS tt, p.range AS pp, d.range AS dd,
                   md5('lsh:{seed}:' || t.range || ':' || p.range
                       || ':' || d.range) AS h
            FROM range({num_tables}) t, range({num_planes}) p,
                 range({dim}) d))"""


def _bucket_ctes(
    id_col: str,
    num_tables: int,
    num_planes: int,
    n_probes: int,
    dim: int,
    seed: int,
) -> list[str]:
    i = id_col
    n_xor = min(n_probes - 1, num_planes)
    return [
        _plane_cte(num_tables, num_planes, dim, seed),
        f"""uvc AS MATERIALIZED (
        SELECT {i}, generate_subscripts(v, 1) - 1 AS d, unnest(v) AS u
        FROM unitv)""",
        f"""dts AS MATERIALIZED (
        SELECT c.{i}, pl.t, pl.p, sum(c.u * pl.w) AS s
        FROM uvc c JOIN pl ON pl.d = c.d
        GROUP BY c.{i}, pl.t, pl.p)""",
        f"""bks AS MATERIALIZED (
        SELECT {i}, t,
               CAST(sum(CASE WHEN s > 0 THEN 1 << p ELSE 0 END)
                    AS BIGINT) AS b
        FROM dts GROUP BY {i}, t)""",
        f"""exactk AS MATERIALIZED (
        SELECT {i}, (t << {num_planes}) + b AS k FROM bks)""",
        f"""probek AS MATERIALIZED (
        SELECT {i}, k FROM exactk
        UNION
        SELECT {i}, (t << {num_planes}) + xor(b, 1 << bit) AS k
        FROM bks CROSS JOIN (SELECT range AS bit FROM range({n_xor})))""",
    ]


def ann_topk_lsh_oracle(
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    n_probes: int = 9,
    num_tables: int = 6,
    seed: int = 42,
    dim: int = 64,
) -> str:
    """Twin of operators/similarity.ann_topk_lsh_q, self-search
    (``queries is corpus``)."""
    i = id_col
    body = ",\n    ".join(
        _base_ctes(table, id_col, vec_col, train_sample=1)
        + _bucket_ctes(i, num_tables, num_planes, n_probes, dim, seed)
    )
    return f"""
    WITH {body},
    cand AS MATERIALIZED (
        SELECT DISTINCT pk.{i} AS query_id, ek.{i} AS nn_id
        FROM probek pk JOIN exactk ek ON pk.k = ek.k
        WHERE pk.{i} <> ek.{i}),
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


def neardup_lsh_oracle(
    threshold: float,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    n_probes: int = 9,
    num_tables: int = 6,
    seed: int = 42,
    dim: int = 64,
) -> str:
    """Twin of operators/similarity.lsh_neardup_pairs_q: the
    asymmetric probe-vs-exact candidate join with id_a < id_b, raw
    integer dot >= the inlined threshold·1e12 double (the identical
    constant Spark's lit(threshold)*lit(1e12) produces)."""
    i = id_col
    thr_q = repr(threshold * 1.0e12)
    body = ",\n    ".join(
        _base_ctes(table, id_col, vec_col, train_sample=1)
        + _bucket_ctes(i, num_tables, num_planes, n_probes, dim, seed)
    )
    return f"""
    WITH {body},
    cand AS MATERIALIZED (
        SELECT DISTINCT pk.{i} AS id_a, ek.{i} AS id_b
        FROM probek pk JOIN exactk ek ON pk.k = ek.k
        WHERE pk.{i} < ek.{i})
    SELECT id_a, id_b,
           floor(dot / {Q12} * {Q6} + 0.5) / {Q6} AS cos_sim
    FROM (
        SELECT cand.id_a, cand.id_b,
               list_dot_product(qa.v, qb.v) AS dot
        FROM cand
        JOIN unitv qa ON qa.{i} = cand.id_a
        JOIN unitv qb ON qb.{i} = cand.id_b)
    WHERE dot >= {thr_q}
    """
