"""Embedding similarity search (exact and approximate cosine top-k,
near-duplicate pairs, semantic dedup) and k-means over embedding vectors.

Every entry point is a composition of one private core:

- ``_vectors``: ``(id, v, n)`` — the id, the vector cast to double
  *before* any arithmetic (every fold below is then bit-deterministic
  and replayable by a SQL oracle) and its L2 norm.
- ``_matrix``: a matrix built in Python — IVF or k-means centroids, LSH
  hyperplanes, the Rademacher projection — as ONE nested array literal;
  a row's index is its position.
- ``_sq_dists``: ``array<struct<d, c>>`` — squared L2 from a vector to
  every matrix row (``d``, a left fold) tagged with the row index
  (``c``). Struct order (d, then c) makes ``array_min(...).c`` the
  nearest row with the first index winning ties (IVF cells, k-means
  assignment), ``slice(array_sort(...), 1, n)`` the ``n`` nearest rows
  in probe order, and ``element_at(...).d`` a row's inertia term.
- ``_cos6``: ``round(cosine, 6)`` — the one score.
- ``_top_k``: the query side is broadcast and the corpus streamed, so
  the corpus never shuffles and scoring is map-only over corpus
  partitions; candidates join on nothing (exact), the LSH table bucket
  or the IVF cell, and the one shuffle is the per-query rank over
  (score desc, neighbor_id) — a total order, stable across engines.
- ``_pairs``: the one self-join for near-duplicate pairs
  (``id_a < id_b``), keyed the same three ways.

A row with no cosine — a NULL or all-zero vector — scores NULL, so it
is never a query result, a neighbor or a pair; the sampled IVF trainer
skips it.

LSH is multi-table (OR-amplified) random-hyperplane hashing:
``n_tables`` tables of ``bits_per_table`` sign bits each from seeded
numpy planes. A pair is a candidate if it collides in ANY table, so
recall amplifies as 1-(1-p^b)^L while per-table pruning stays 2^b, and
the post-join shuffle is proportional to the candidate set, not the
corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


# ---------------------------------------------------------------------------
# the core
# ---------------------------------------------------------------------------


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("n", l2_norm(F.col("v")))


def _matrix(rows) -> Column:
    """A nested list of numbers as one ``array<...<double>>`` literal."""
    import numpy as np

    return F.lit(np.asarray(rows, dtype=np.float64).tolist())


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sq_dists(vec: Column, matrix: Column) -> Column:
    """``array<struct<d, c>>`` of squared L2 distances from ``vec`` to
    each ``matrix`` row; NULL for a NULL vector.

    The NULL guard also keeps ``vec`` outside the lambda: with ``vec``
    referenced only inside it, Spark 4.1 has inferred a filter on this
    expression for the other side of an equi-join on its result, which
    then fails with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND."""
    return F.when(
        vec.isNotNull(),
        F.transform(
            matrix, lambda row, i: F.struct(_sq_dist(vec, row).alias("d"), i.alias("c"))
        ),
    )


def _nearest(vec: Column, matrix: Column) -> Column:
    return F.array_min(_sq_dists(vec, matrix)).getField("c")


def _cos6(digits: int = 6) -> Column:
    """Cosine of the ``l`` and ``r`` sides, rounded so that scores (and
    so ranks and thresholds) agree with DuckDB's list_cosine_similarity,
    whose summation differs in the last ulps. NULL when either vector
    has no cosine (a NULL or all-zero vector)."""
    return F.round(
        F.try_divide(dot(F.col("l.v"), F.col("r.v")), F.col("l.n") * F.col("r.n")),
        digits,
    )


def _on(key: str | None, ids: Column) -> Column:
    return ids if key is None else (F.col(f"l.{key}") == F.col(f"r.{key}")) & ids


def _top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    key: str | None = None,
    digits: int = 6,
    distinct: bool = False,
) -> DataFrame:
    """(query_id, neighbor_id, score, rank) over ``_vectors`` sides;
    self-matches excluded. ``distinct`` drops a pair found through
    several keys (LSH tables). NULL scores rank last and are dropped
    with the ranks past ``k``."""
    scored = (
        corpus.alias("l")
        .join(
            F.broadcast(queries.alias("r")),
            _on(key, F.col("l.id") != F.col("r.id")),
        )
        .select(
            F.col("r.id").alias("query_id"),
            F.col("l.id").alias("neighbor_id"),
            _cos6(digits).alias("score"),
        )
    )
    if distinct:
        scored = scored.distinct()
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        (F.col("rank") <= k) & F.col("score").isNotNull()
    )


def _pairs(
    vectors: DataFrame,
    threshold: float,
    key: str | None = None,
    distinct: bool = False,
) -> DataFrame:
    """(id_a, id_b, cos_sim) with id_a < id_b and cos_sim >= threshold."""
    pairs = (
        vectors.alias("l")
        .join(vectors.alias("r"), _on(key, F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            _cos6().alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    return pairs.distinct() if distinct else pairs


# ---------------------------------------------------------------------------
# exact search
# ---------------------------------------------------------------------------


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, score, rank).

    The (small) query set is broadcast against the streamed corpus;
    self-matches excluded. Scores are rounded before ranking so rank
    order is reproducible across engines; ties broken by neighbor id.
    """
    return _top_k(
        _vectors(corpus, id_col, vec_col),
        _vectors(queries, id_col, vec_col),
        k,
        digits=round_digits,
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup dedup).
    Exact O(n²/2) scoring — the correctness baseline; at corpus scale
    :func:`embedding_near_dup_pairs_lsh` prunes with the same verify."""
    return _pairs(_vectors(df, id_col, vec_col), threshold)


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------


def _random_planes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _plane_tables(
    planes: list[list[float]], n_tables: int, bits_per_table: int
) -> Column:
    """Table ``t`` owns planes ``[t*b, (t+1)*b)``: an n_tables × b × dim
    literal."""
    b = bits_per_table
    return _matrix([planes[t * b : (t + 1) * b] for t in range(n_tables)])


def _buckets(vec: Column, tables: Column) -> Column:
    """:func:`table_buckets` over a ``_plane_tables`` literal."""
    return F.transform(
        tables,
        lambda planes, t: F.struct(
            t.alias("t"),
            F.aggregate(
                F.transform(
                    planes,
                    lambda p, i: F.when(
                        dot(vec, p) > 0, F.call_function("shiftleft", F.lit(1), i)
                    ).otherwise(F.lit(0)),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("b"),
        ),
    )


def table_buckets(
    vec: Column, planes: list[list[float]], n_tables: int, bits_per_table: int
) -> Column:
    """Array of (table, bucket) structs — one sign-bit bucket per table.

    Table ``t`` owns planes ``[t*b, (t+1)*b)``; bucket bit ``i`` is
    ``dot(v, plane) > 0``. All JVM-side expressions (no UDF)."""
    return _buckets(vec, _plane_tables(planes, n_tables, bits_per_table))


def _bucketed(
    df: DataFrame, id_col: str, vec_col: str, tables: Column
) -> DataFrame:
    return _vectors(df, id_col, vec_col).withColumn(
        "tb", F.explode(_buckets(F.col("v"), tables))
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_tables: int = 16,
    bits_per_table: int = 4,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    Every row hashes to one bucket per table (map-only over the corpus);
    a (query, neighbor) pair becomes a candidate iff the buckets match in
    at least one table (recall = 1-(1-p^b)^L where p = 1-θ/π). The join
    against the exploded, broadcast query buckets prunes the candidate
    set ~2^b-fold per table before the exact cosine verify + rank, and
    the only shuffle (the distinct + window) is over *candidates*, not
    the corpus. Same output schema as :func:`brute_force_topk`; recall
    < 1.0 by construction.

    Defaults (L=16, b=4) are tuned for the adversarial case of weakly
    similar neighbors (cos ≈ 0.3 → ~0.88 recall). For real clustered
    corpora (near-dup cos ≥ 0.8) use ``bits_per_table=8..12`` for far
    stronger pruning at the same recall.
    """
    tables = _plane_tables(
        _random_planes(n_tables * bits_per_table, dim, seed),
        n_tables,
        bits_per_table,
    )
    return _top_k(
        _bucketed(corpus, id_col, vec_col, tables),
        _bucketed(queries, id_col, vec_col, tables),
        k,
        key="tb",
        distinct=True,
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.95,
    n_tables: int = 8,
    bits_per_table: int = 8,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for :func:`embedding_near_dup_pairs`: multi-table
    hyperplane LSH self-join prunes candidates, exact cosine verifies.

    At cos >= 0.95 (θ ≈ 18°, per-plane agreement ≈ 0.9) the defaults
    give expected recall 1-(1-0.9^8)^8 ≈ 0.99 while random pairs
    collide at ~(1/256)·8 ≈ 3% — an O(n²)→O(candidates) cut. Same
    output schema as the exact operator; recall < 1.0 by construction.
    """
    tables = _plane_tables(
        _random_planes(n_tables * bits_per_table, dim, seed),
        n_tables,
        bits_per_table,
    )
    return _pairs(
        _bucketed(df, id_col, vec_col, tables), threshold, key="tb", distinct=True
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) search
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means on a bounded, deterministic driver-side sample.

    ``orderBy(id).limit(sample_size)`` is a distributed take-ordered (each
    partition contributes its local top — no full sort), so training cost
    is independent of corpus size; only the tiny sample is collected.
    Rows without a cosine are skipped. Centroids are
    unit-normalized (spherical k-means), so the nearest centroid by
    squared L2 is also the one of max cosine."""
    import numpy as np

    sample = (
        _vectors(corpus, id_col, vec_col)
        .filter(F.col("n") > 0)
        .orderBy("id")
        .limit(sample_size)
        .select("v")
        .collect()
    )
    x = np.array([r["v"] for r in sample], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent.tolist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) partitioning.

    Each corpus row is assigned to its nearest centroid cell (squared
    L2 argmin — a map-only JVM expression; the corpus never shuffles);
    each query probes its ``n_probe`` nearest cells, so only
    ~n_probe/n_centroids of the corpus is scored. Exact rescoring + rank
    on the candidates, same output schema as :func:`brute_force_topk`.
    ``centroids`` default to :func:`train_ivf_centroids`.

    Cells are disjoint, so unlike multi-table LSH no candidate dedup is
    needed; the only shuffle is the per-query top-k over candidates.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_centroids=n_centroids, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    matrix = _matrix(centroids)
    v = F.col("v")
    probes = F.transform(
        F.slice(F.array_sort(_sq_dists(v, matrix)), 1, n_probe),
        lambda s: s.getField("c"),
    )
    # a non-nullable join key: for a nullable one Catalyst infers
    # isnotnull(cell) and evaluates the whole assignment a second time
    # in a filter below the join (a NULL vector's -1 matches no probe)
    cell = F.coalesce(_nearest(v, matrix), F.lit(-1))
    return _top_k(
        _vectors(corpus, id_col, vec_col).withColumn("cell", cell),
        _vectors(queries, id_col, vec_col).withColumn("cell", F.explode(probes)),
        k,
        key="cell",
    )


def ivf_topk_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Engine-portable IVF top-k: :func:`ivf_topk` with seeded instead
    of trained centroids, so a SQL oracle can replay the candidate set.

    The centroids are the ``n_centroids`` corpus vectors with the lowest
    ``md5(id)`` (the x200 seeding move), collected (bounded:
    n_centroids rows) — no trained floats, so both engines hold
    bit-identical centroids. Distances are the core's sequential
    squared-L2 folds (``F.aggregate`` / ``list_reduce`` — the same
    left-associated rounding), argmin and probe order tie-break through
    (distance, cell), and scores are the ``round(cosine, 6)`` of x8/x10.
    A hash mismatch would catch a wrong cell assignment, a wrong probe
    order or a wrong rescore — not just a wrong count.
    """
    seeds = (
        _vectors(corpus, id_col, vec_col)
        .select("id", "v", F.md5(F.col("id").cast("string")).alias("hk"))
        .orderBy("hk", "id")
        .limit(n_centroids)
        .collect()
    )
    return ivf_topk(
        corpus,
        queries,
        k=k,
        n_probe=n_probe,
        centroids=[r["v"] for r in seeds],
        id_col=id_col,
        vec_col=vec_col,
    )


# ---------------------------------------------------------------------------
# DataFrame-native k-means (Lloyd's iterations)
# ---------------------------------------------------------------------------


def assign_clusters(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """Adds ``cluster`` (int) = index of the nearest centroid (squared
    L2; first index wins ties). The centroid list is embedded as a plan
    literal — an implicit broadcast, no join."""
    return df.withColumn(
        "cluster", _nearest(as_double(F.col(vec_col)), _matrix(centroids))
    )


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
) -> tuple[list[list[float]], DataFrame]:
    """Distributed Lloyd's k-means: centroids init from the first ``k``
    vectors in ``id_col`` order (deterministic, no RNG), then ``iters``
    rounds of assign (map-only, centroid literals) + recompute
    (posexplode → per-(cluster, dim) avg — ONE shuffle of narrow rows).

    Scale contract: only the k×dim centroid table ever reaches the
    driver (k·dim doubles per iteration); the corpus itself is never
    collected. Empty clusters keep their previous centroid. This is the
    engine's IVF trainer scaled past what a driver-side numpy sample
    can hold (cf. train_ivf_centroids).
    """
    init = df.orderBy(id_col).limit(k).select(vec_col).collect()
    centroids = [[float(x) for x in r[0]] for r in init]
    for _ in range(iters):
        assigned = assign_clusters(df, vec_col, centroids)
        rows = (
            assigned.select(
                "cluster",
                F.posexplode(as_double(F.col(vec_col))).alias("i", "x"),
            )
            .groupBy("cluster", "i")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = {c: list(old) for c, old in enumerate(centroids)}
        for r in rows:
            new[r["cluster"]][r["i"]] = r["m"]
        centroids = [new[c] for c in range(k)]
    return centroids, assign_clusters(df, vec_col, centroids)


def kmeans_inertia(assigned: DataFrame, vec_col: str, centroids) -> float:
    """Total within-cluster squared distance (the Lloyd objective)."""
    d = F.element_at(
        _sq_dists(as_double(F.col(vec_col)), _matrix(centroids)),
        F.col("cluster") + 1,
    ).getField("d")
    return assigned.select(d.alias("d")).agg(F.sum("d")).first()[0]


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings into cells, then prune
    within-cell cosine near-duplicates, keeping one representative per
    duplicate neighborhood.

    Returns one row per input: ``(id, cell, kept)``. A row without a
    cosine (NULL or all-zero vector) is always kept; a NULL vector has
    a NULL cell.

    Divergence from the paper, documented: the representative is the
    *smallest id* in a duplicate pair, not the member closest to the
    centroid — an id-keyed rule is deterministic under any partitioning
    and needs no second centroid-distance pass. A row is dropped iff
    some smaller-id row in its cell is within ``threshold`` cosine of
    it (the partition-parallel relaxation of greedy keep-first; the
    exact sequential greedy is order-dependent and inherently serial —
    same relaxation trade-off as x42's connected-component canonical).

    Scale: cell assignment is the map-only nearest-centroid argmin of
    :func:`ivf_topk` (the corpus never shuffles to be assigned);
    candidate pairs are bounded to within-cell (the SemDeDup point:
    O(n²) → Σ O(|cell|²)); the self-join shuffles both sides on
    ``cell`` — at 100 TB, raise ``n_centroids`` so cells stay
    executor-sized (the paper runs 50k cells for 5B docs) and the
    trainer stays bounded (sample-based, cf.
    train_ivf_centroids). Anti-join back to the full set is a shuffle on
    the (unique, uniform) id.
    """
    centroids = train_ivf_centroids(
        df, n_centroids=n_centroids, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    cells = _vectors(df, id_col, vec_col).withColumn(
        "cell", _nearest(F.col("v"), _matrix(centroids))
    )
    dropped = (
        _pairs(cells, threshold, key="cell")
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        cells.join(dropped.withColumn("__drop", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cell",
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
        )
    )


def rademacher_matrix(in_dim: int, out_dim: int, seed: int = 42) -> list[list[int]]:
    """Seeded ±1 (Rademacher) projection matrix, generated driver-side
    and embedded as a plan literal — deterministic on every executor and
    reproducible by any other engine from the same seed."""
    import random

    rnd = random.Random(seed)
    return [
        [1 if rnd.random() < 0.5 else -1 for _ in range(in_dim)]
        for _ in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    vec_col: str,
    in_dim: int,
    out_dim: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project each
    embedding onto ``out_dim`` seeded ±1 directions — the standard
    pre-ANN compression (Achlioptas 2003: ±1 entries preserve pairwise
    distances in expectation like Gaussian projections, with integer
    arithmetic). Map-only: each output dim is one JVM fold over the
    vector against a row of the matrix literal; no shuffle, no UDF —
    100 TB of embeddings project in the scan stage. Adds columns
    ``p0..p{out_dim-1}`` (unnormalized; scale by 1/sqrt(out_dim) when
    distances must be comparable to the original space).
    """
    matrix = _matrix(rademacher_matrix(in_dim, out_dim, seed))
    v = as_double(F.col(vec_col))
    return df.withColumns({f"p{j}": dot(v, matrix[j]) for j in range(out_dim)})


# ---------------------------------------------------------------------------
# engine-portable quantized k-means (the x192/x149 portable-twin pattern)
# ---------------------------------------------------------------------------

def kmeans_portable(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
    scale: int = 100,
) -> DataFrame:
    """Lloyd's k-means whose EVERY arithmetic step is cross-engine
    exact, so a static SQL oracle can replay data-derived centroids
    bit-for-bit — the determinism twin of :func:`kmeans_lloyd` (x132,
    the production path: float centroids seeded from the first ``k``
    vectors in id order).

    The three moves that make it portable:

    - vectors quantize to ints (``floor(x*scale)``), so per-cluster
      per-dim centroid sums are EXACT integers and each new centroid
      coordinate is ONE correctly-rounded IEEE division ``sum/count`` —
      identical bits in any engine;
    - squared distances fold sequentially over the array
      (``F.aggregate`` here, ``list_reduce`` in the oracle) — the same
      left-associated rounding on both sides, never a parallel float
      sum over group ROWS (whose order differs between engines);
    - seeding is the ``k`` lowest md5(id) vectors (a TakeOrdered, not a
      global sort), and argmin tie-breaks through a (dist, cluster)
      struct min.

    Returns (cluster, dim, centroid, n_members) — k*dim rows (a
    cluster that loses all members mid-iteration drops out, standard
    Lloyd behavior — deterministically in both engines). Scale:
    per iteration, one k×dim-row broadcast joins the corpus map-side
    (the distance fold is a HOF — interpreted, not codegen'd; fine for
    a verification twin) and the update is one narrow
    (cluster, pos, int) shuffle with map-side partial sums.
    """
    q = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            vec_col, lambda x: F.floor(x.cast("double") * scale).cast("int")
        ).alias("qv"),
    )
    # TakeOrdered pulls the k seed rows to the driver (bounded: k
    # rows), and the cluster index is assigned in that collected order
    # — no global row_number window, which would be the one
    # single-partition WindowExec in the pipeline (int → double is
    # exact, so the literal centroids are bit-identical to the rows)
    seed_rows = (
        q.select("id", "qv", F.md5(F.col("id").cast("string")).alias("hk"))
        .orderBy("hk", "id")
        .limit(k)
        .collect()
    )
    cents = df.sparkSession.createDataFrame(
        [
            (cluster, [float(x) for x in r["qv"]])
            for cluster, r in enumerate(seed_rows)
        ],
        "cluster int, c array<double>",
    )
    for _ in range(iters):
        scored = q.crossJoin(F.broadcast(cents.select("cluster", "c"))).select(
            "id",
            "qv",
            "cluster",
            _sq_dist(as_double(F.col("qv")), F.col("c")).alias("dist"),
        )
        assign = (
            scored.groupBy("id", "qv")
            .agg(
                F.min(
                    F.struct(F.col("dist").alias("d"), F.col("cluster").alias("c"))
                ).alias("m")
            )
            .select("id", "qv", F.col("m.c").alias("cluster"))
        )
        sums = (
            assign.select("cluster", F.posexplode("qv").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").cast("long").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        cents = sums.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                lambda t: t.getField("s") / t.getField("n"),
            ).alias("c"),
            F.min("n").alias("n"),
        )
    return cents.select(
        F.col("cluster").cast("int"),
        F.posexplode("c").alias("pos", "centroid"),
        F.col("n").cast("long").alias("n_members"),
    ).select(
        "cluster",
        (F.col("pos") + 1).cast("int").alias("dim"),
        "centroid",
        "n_members",
    )
