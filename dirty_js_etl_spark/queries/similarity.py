"""Vector-similarity queries (``operators/similarity.py``).

Embedding top-k, near-duplicate pairs (exact and LSH), IVF search,
k-means, semantic dedup and random projection.

Engine-portable k-means (``kmeans_portable``, x200) and IVF (x201):
data-derived centroids can be replayed by a static oracle string when
every arithmetic step is exact: with integer vector quantization (exact
centroid sums, one correctly-rounded division per coordinate),
sequential array folds for distances, md5-rank seeding, and struct-min
tie-breaks, TWO full Lloyd iterations replay in DuckDB bit-for-bit —
the same portable-twin move as x192 (HLL) and x149 (CMS). x132 is the
production path (float centroids seeded from the first k vectors in id
order); x200 is the auditable spelling.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries._shared import _cat, register


_X8_SQL = """
WITH c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, c.neighbor_id,
         round(list_cosine_similarity(c.v, q.v), 6) AS score
  FROM c, q WHERE c.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 10
"""


@register("x8_embedding_topk", _X8_SQL)
def x8_embedding_topk(spark, sf_dir):
    from dirty_js_etl_spark.operators.similarity import brute_force_topk

    emb = _cat(spark, sf_dir).read("embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=10)


@register(
    "x9_embedding_near_dup",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
""",
)
def x9_embedding_near_dup(spark, sf_dir):
    from dirty_js_etl_spark.operators.similarity import embedding_near_dup_pairs

    emb = _cat(spark, sf_dir).read("embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.4)


def _lsh_tb_cte() -> str:
    """Shared signature CTE for the x10/x29 oracles.

    The hyperplane LSH in ``operators/similarity.py`` is DETERMINISTIC:
    the planes come from ``numpy.RandomState(7)`` (a frozen legacy
    stream) and are embedded as plan literals, so a second engine can
    replay the whole pipeline — signatures, bucket collisions, verify —
    bit-for-bit. This CTE rebuilds the 16-table × 4-bit signatures in
    DuckDB with LEFT-ASSOCIATED addition chains (``0.0 + v[1]*p1 + …``),
    the exact fold order of ``F.aggregate``: sign decisions near zero
    therefore agree to the last ULP, not merely after rounding. Both
    x10 and x29 use the same (n_tables=16, bits=4, seed=7) planes.
    """
    from dirty_js_etl_spark.operators.similarity import _random_planes

    planes = _random_planes(16 * 4, 64, 7)
    tables = []
    for t in range(16):
        bits = []
        for i in range(4):
            chain = "0.0" + "".join(
                f" + v[{j + 1}]*({c!r})"
                for j, c in enumerate(planes[t * 4 + i])
            )
            bits.append(f"CASE WHEN ({chain}) > 0 THEN {1 << i} ELSE 0 END")
        tables.append("(" + "\n + ".join(bits) + ")")
    bks = ",\n".join(tables)
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings),\n"
        f"sig AS (SELECT vec_id, v, [{bks}] AS bks FROM e),\n"
        "tb AS (SELECT vec_id, v, CAST(g.t AS INT) AS t,"
        " bks[CAST(g.t AS INT) + 1] AS b\n"
        "      FROM sig CROSS JOIN range(16) g(t))\n"
    )


def _x10_oracle_sql() -> str:
    return _lsh_tb_cte() + (
        ", cand AS (\n"
        "  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,\n"
        "         round(list_cosine_similarity(c.v, q.v), 6) AS score\n"
        "  FROM tb c JOIN tb q ON c.t = q.t AND c.b = q.b\n"
        "  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id\n"
        ")\n"
        "SELECT query_id, neighbor_id, score, CAST(rn AS INT) AS rank\n"
        "FROM (SELECT *, row_number() OVER (PARTITION BY query_id\n"
        "      ORDER BY score DESC, neighbor_id) AS rn FROM cand)\n"
        "WHERE rn <= 10"
    )


def _x29_oracle_sql() -> str:
    return _lsh_tb_cte() + (
        "SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,\n"
        "       round(list_cosine_similarity(a.v, c.v), 6) AS cos_sim\n"
        "FROM tb a JOIN tb c\n"
        "  ON a.t = c.t AND a.b = c.b AND a.vec_id < c.vec_id\n"
        "WHERE round(list_cosine_similarity(a.v, c.v), 6) >= 0.4"
    )


@register("x10_similarity_lsh_topk", _x10_oracle_sql())
def x10_similarity_lsh_topk(spark, sf_dir):
    # Hash-checked (round 7): the seeded-plane replay oracle
    # (_lsh_tb_cte) reproduces buckets, candidates, verify, and the
    # (score desc, neighbor_id) rank tie-break exactly — the
    # "approximate" result is a deterministic function of the planes.
    from dirty_js_etl_spark.operators.similarity import lsh_topk

    emb = _cat(spark, sf_dir).read("embeddings")
    return lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=10)


@register("x29_embedding_near_dup_lsh", _x29_oracle_sql())
def x29_embedding_near_dup_lsh(spark, sf_dir):
    from dirty_js_etl_spark.operators.similarity import embedding_near_dup_pairs_lsh

    emb = _cat(spark, sf_dir).read("embeddings")
    # fixture near-dups are weak (cos 0.4-0.5) -> match the band shape
    # to the threshold angle: p=0.65/plane, b=4, L=16 -> ~96% recall.
    # Hash-checked (round 7) via the seeded-plane replay oracle.
    return embedding_near_dup_pairs_lsh(
        emb, threshold=0.4, n_tables=16, bits_per_table=4
    )


@register("x18_ivf_topk", None)  # approximate -> rows-only check
def x18_ivf_topk(spark, sf_dir):
    from dirty_js_etl_spark.operators.similarity import ivf_topk

    emb = _cat(spark, sf_dir).read("embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=10, n_probe=6)


@register("x132_kmeans_clusters", None)
def x132_kmeans_clusters(spark, sf_dir):
    # Distributed Lloyd's k-means over the embedding corpus (k=8,
    # 3 iterations, deterministic first-k init -- no RNG): per-cluster
    # sizes.  rows-only: centroid averages are float reductions whose
    # partition order may produce last-ULP differences, so a SQL
    # oracle can't be bit-stable; test_similarity.py pins the
    # semantics (inertia monotonically non-increasing, full coverage,
    # determinism of the objective to 1e-6).
    from dirty_js_etl_spark.operators.similarity import kmeans_lloyd

    emb = _cat(spark, sf_dir).read("embeddings")
    _, assigned = kmeans_lloyd(
        emb, vec_col="embedding", id_col="vec_id", k=8, iters=3
    )
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("cluster")
    )


@register("x148_semantic_dedup", None)  # cell assignment rides the
# sampled spherical k-means trainer (float argmax) -> rows-only +
# pytest invariants vs exact near-dup pairs: tests/test_sketch.py
def x148_semantic_dedup(spark, sf_dir):
    # SemDeDup (Abbas et al. 2023): embedding-space near-duplicate
    # pruning made scalable by clustering first -- candidate pairs are
    # confined to within-cell, so the O(n^2) exact screen (x9) becomes
    # sum over cells of O(|cell|^2) and each cell's self-join is an
    # ordinary cell-keyed shuffle.  Output: every embedding row with
    # its cell and a deterministic kept/dropped verdict.
    from dirty_js_etl_spark.operators.similarity import semantic_dedup

    emb = _cat(spark, sf_dir).read("embeddings")
    return semantic_dedup(
        emb, threshold=0.97, n_centroids=8, id_col="vec_id",
        vec_col="embedding",
    )


def _x181_oracle_sql() -> str:
    from dirty_js_etl_spark.operators.similarity import rademacher_matrix

    mat = rademacher_matrix(64, 8, 42)
    cols = ",\n       ".join(
        "round(list_dot_product(v, ["
        + ", ".join(str(float(e)) for e in row)
        + f"]), 6) + 0.0 AS p{j}"
        for j, row in enumerate(mat)
    )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)\n"
        f"SELECT vec_id,\n       {cols}\nFROM e"
    )


@register("x181_random_projection", _x181_oracle_sql())
def x181_random_projection(spark, sf_dir):
    # Johnson–Lindenstrauss pre-ANN compression: 64-dim embeddings onto
    # 8 seeded Rademacher (±1) directions — map-only JVM folds against
    # plan-literal matrix rows, no shuffle/UDF, so 100 TB of vectors
    # project inside the scan stage. The seed makes the matrix
    # reproducible by ANY engine: the oracle rebuilds the identical
    # projection from the same seed (same driver-side generator).
    from dirty_js_etl_spark.operators.similarity import random_projection

    emb = _cat(spark, sf_dir).read("embeddings")
    out = random_projection(emb, "embedding", in_dim=64, out_dim=8, seed=42)
    return out.select(
        "vec_id",
        *[(F.round(F.col(f"p{j}"), 6) + 0.0).alias(f"p{j}") for j in range(8)],
    )


_K, _ITERS, _DIM, _SCALE = 4, 2, 64, 100


def _iter_sql(prev_c: str, a_name: str, c_name: str) -> str:
    return f"""
{a_name} AS (
  SELECT vec_id, qv,
         (min(struct_pack(d := dist, c := cluster))).c AS cluster
  FROM (
    SELECT q.vec_id, q.qv, {prev_c}.cluster,
           list_reduce(
             list_transform(q.qv, (x, i) ->
               (CAST(x AS DOUBLE) - {prev_c}.c[i])
               * (CAST(x AS DOUBLE) - {prev_c}.c[i])),
             (a, b) -> a + b) AS dist
    FROM q CROSS JOIN {prev_c}
  ) GROUP BY vec_id, qv
),
{c_name}_s AS (
  SELECT cluster, i, CAST(sum(qv[i]) AS BIGINT) AS s, count(*) AS n
  FROM {a_name} CROSS JOIN range(1, {_DIM} + 1) r(i)
  GROUP BY cluster, i
),
{c_name} AS (
  SELECT cluster,
         list(CAST(s AS BIGINT) / CAST(n AS BIGINT) ORDER BY i) AS c,
         min(n) AS n
  FROM {c_name}_s GROUP BY cluster
)"""


@register(
    "x200_kmeans_portable",
    f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_SCALE}) AS INT))
           AS qv
  FROM embeddings
),
seed AS (
  SELECT vec_id, qv FROM q
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_K}
),
c0 AS (
  SELECT row_number()
           OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cluster,
         list_transform(qv, x -> CAST(x AS DOUBLE)) AS c
  FROM seed
),
{_iter_sql('c0', 'a1', 'c1')},
{_iter_sql('c1', 'a2', 'c2')}
SELECT CAST(cluster AS INT) AS cluster, CAST(r.i AS INT) AS dim,
       c[r.i] AS centroid, CAST(n AS BIGINT) AS n_members
FROM c2 CROSS JOIN range(1, {_DIM} + 1) r(i)
""",
)
def x200_kmeans_portable(spark, sf_dir):
    # two unrolled Lloyd iterations over the int-quantized embeddings;
    # the oracle rebuilds every assignment and centroid from the same
    # literal arithmetic (k*dim = 256 output rows, bit-identical).
    from dirty_js_etl_spark.operators.similarity import kmeans_portable

    emb = _cat(spark, sf_dir).read("embeddings")
    return kmeans_portable(
        emb, "vec_id", "embedding", k=_K, iters=_ITERS, scale=_SCALE
    )


_IVF_CENTS, _IVF_PROBE, _IVF_K = 16, 4, 10


# Shared sub-expressions of the x201 oracle: squared-L2 distance as the
# same left-associated sequential fold Spark's F.aggregate performs
# (0.0 + t1 == t1 in IEEE double, so list_reduce's ((t1+t2)+t3)...
# chain is bit-identical), and (distance, cell) struct-min / struct-sort
# tie-breaks mirroring array_min / array_sort on struct(d, c).
_IVF_D = (
    "list_reduce(list_transform(v, (x, i) -> "
    "(x - c.cv[i]) * (x - c.cv[i])), (a, b) -> a + b)"
)


@register(
    "x201_ivf_topk_portable",
    f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number()
           OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
         v AS cv
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_CENTS}
),
assigned AS (
  SELECT vec_id AS neighbor_id, v,
         (min(struct_pack(d := d, c := cell))).c AS cell
  FROM (SELECT e.vec_id, e.v, c.cell, {_IVF_D} AS d
        FROM e CROSS JOIN cents c)
  GROUP BY vec_id, v
),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT query_id, qv, cell,
           row_number() OVER (PARTITION BY query_id ORDER BY d, cell) AS pr
    FROM (SELECT e.vec_id AS query_id, e.v AS qv, c.cell, {_IVF_D} AS d
          FROM e CROSS JOIN cents c WHERE e.vec_id < 10)
  ) WHERE pr <= {_IVF_PROBE}
),
cand AS (
  SELECT p.query_id, a.neighbor_id,
         round(list_cosine_similarity(a.v, p.qv), 6) AS score
  FROM assigned a JOIN probes p ON a.cell = p.cell
  WHERE a.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, score, CAST(rn AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, neighbor_id) AS rn FROM cand)
WHERE rn <= {_IVF_K}
""",
)
def x201_ivf_topk_portable(spark, sf_dir):
    # Engine-portable IVF top-k — the hash-checked twin of the
    # rows-only production path x18 (``similarity.py::ivf_topk``),
    # closing the last approximate-ANN family without a verified
    # variant. Centroids are the md5-rank-lowest corpus vectors
    # (x200's seeding move), so the oracle rebuilds the identical
    # cells, probe sets, and rescored ranks from SQL alone.
    from dirty_js_etl_spark.operators.similarity import ivf_topk_seeded

    emb = _cat(spark, sf_dir).read("embeddings")
    return ivf_topk_seeded(
        emb,
        emb.filter("vec_id < 10"),
        k=_IVF_K,
        n_centroids=_IVF_CENTS,
        n_probe=_IVF_PROBE,
    )
