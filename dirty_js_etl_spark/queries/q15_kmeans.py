"""Engine-portable k-means (``operators/similarity.py::kmeans_portable``).

Data-derived centroids can be replayed by a static oracle string when
every arithmetic step is exact: with integer vector quantization (exact
centroid sums, one correctly-rounded division per coordinate),
sequential array folds for distances, md5-rank seeding, and struct-min
tie-breaks, TWO full Lloyd iterations replay in DuckDB bit-for-bit —
the same portable-twin move as x192 (HLL) and x149 (CMS). x132 is the
production path (float centroids seeded from the first k vectors in id
order); this is the auditable spelling.
"""

from __future__ import annotations

from dirty_js_etl_spark.queries._shared import _cat, register

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
