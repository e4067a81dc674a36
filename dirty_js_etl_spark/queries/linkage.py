"""Entity-resolution and graph queries (``operators/linkage.py``,
``operators/graph.py``).

Record linkage over the part catalog: records are the composite
``p_name|p_type`` listing strings, the blocking key is the product
noun + brand (cheap, high-recall — two listings of the same product
share both), matches are within-block pairs of distinct record VALUES
(identical values collapse to min-id representatives first —
dedup-then-link: clique-size-independent where the record-level
spelling was O(clique²) on the replica-heavy sf1 fixture), and
entities are connected components over the value match graph, with
every record inheriting its representative's entity. All stages are
exactly SQL-replayable (DuckDB ships ``levenshtein`` and walks the
components with the x36 recursive-CTE pattern), so candidate
generation, the in-join distance pruning, AND the transitive entity
assignment are all hash-checked. Four passes: exact-key blocking
(x205), sorted neighborhood (x207), LSH char-gram blocking (x208,
catches typos in the blocking token itself), assembly (x206).

The graph kernels run on the co-purchase graph of parts: PageRank
(x143) and degree-oriented triangle counting (x141).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries._shared import _cat, register


def _copurchase_pairs(li):
    """Distinct co-purchase part pairs appearing in >= 2 orders, WITHOUT
    the lineitem self-join (r13): the join spelling exchanged lineitem
    twice, and on the single-row-group fixture scan that map stage was
    serial (x143 profile: 1.8 s of the 5.3 s wall). collect_set per
    order shuffles lineitem ONCE; the quadratic within-order expansion
    (k ≈ 4–7 lines/order) runs parallel above the exchange. collect_set
    dedups within the order, so one row per (order, pa, pb) and
    count(*) ≥ 2 is exactly the old countDistinct(l_orderkey) ≥ 2."""
    grouped = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
    )
    return (
        grouped.select(F.explode("ps").alias("pa"), "ps")
        .select("pa", F.explode("ps").alias("pb"))
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )


@register(
    "x141_triangle_count",
    """
WITH pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(DISTINCT a.l_orderkey) >= 2
)
SELECT CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST((SELECT count(*)
             FROM pairs e1
             JOIN pairs e2 ON e2.pa = e1.pb
             JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb) AS BIGINT)
         AS n_triangles
""",
)
def x141_triangle_count(spark, sf_dir):
    # Triangle counting on the co-purchase graph (parts sharing >= 2
    # orders): the standard distributed-graph kernel, degree-oriented.
    # Each undirected edge points from its lower-(degree, id) endpoint
    # to the higher one — a total order, so every triangle has exactly
    # one length-2 path u->v->w plus the closing edge u->w, and the
    # wedge fan-out per vertex is bounded by the out-degree, which
    # degree orientation caps at O(sqrt(m)) even on hub vertices (the
    # a<b orientation leaves hubs with huge out-degree and a quadratic
    # wedge stage).  All joins are plain shuffle equi-joins — the edge
    # list is corpus-scale on a real graph and must never broadcast;
    # AQE may still pick a runtime broadcast when it is actually small.
    li = _cat(spark, sf_dir).read("lineitem")
    pairs = _copurchase_pairs(li)
    deg = (
        pairs.select(F.col("pa").alias("v"))
        .unionAll(pairs.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("pb"), F.col("d").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    directed = (
        pairs.join(da, "pa")
        .join(db, "pb")
        .select(
            F.when(lower_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(lower_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        )
    )
    d1, d2, d3 = directed.alias("d1"), directed.alias("d2"), directed.alias("d3")
    tri = (
        d1.join(d2, F.col("d2.src") == F.col("d1.dst"))
        .join(
            d3,
            (F.col("d3.src") == F.col("d1.src"))
            & (F.col("d3.dst") == F.col("d2.dst")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return edges.crossJoin(tri)


_X143_GRAPH = """
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(DISTINCT a.l_orderkey) >= 2
),
edges AS (
  SELECT pa AS src, pb AS dst FROM pairs
  UNION ALL
  SELECT pb AS src, pa AS dst FROM pairs
),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges)
"""


_X143_STEP = """
s{i} AS (
  SELECT e.dst AS node, sum(p.r // d.d) AS s
  FROM pr{prev} p
  JOIN deg d ON d.src = p.node
  JOIN edges e ON e.src = p.node
  GROUP BY e.dst
),
pr{i} AS (
  SELECT n.node,
         CAST(150000 + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN s{i} s USING (node)
)
"""


@register(
    "x143_pagerank",
    "WITH "
    + _X143_GRAPH.strip()
    + ","
    + _X143_STEP.format(i=1, prev=0).strip().replace(
        "pr0 p", "(SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes) p"
    )
    + ","
    + _X143_STEP.format(i=2, prev=1).strip()
    + ","
    + _X143_STEP.format(i=3, prev=2).strip()
    + """
SELECT node AS part_key, r AS rank_ppm FROM pr3
""",
)
def x143_pagerank(spark, sf_dir):
    # PageRank (damping 0.85, 3 iterations) on the undirected
    # co-purchase graph -- in PURE INTEGER arithmetic: ranks live in
    # parts-per-million, contributions are floor-divided by degree,
    # damping is (85*s) DIV 100.  Every engine and every partitioning
    # produces bit-identical ranks, so the oracle unrolls the same 3
    # iterations as plain CTEs.  Since r10 the iteration loop lives in
    # ``operators/graph.py::pagerank_quantized`` (same arithmetic,
    # extracted as a reusable operator): the edge table is
    # localCheckpointed ONCE with the out-degree already attached and
    # src hashing, so the 3 unrolled iterations read a materialized
    # table instead of replaying the lineitem self-join + degree join
    # each round — the x5 single-materialization idiom applied to an
    # iterative algorithm.
    from dirty_js_etl_spark.operators.graph import pagerank_quantized

    li = _cat(spark, sf_dir).read("lineitem")
    pairs = _copurchase_pairs(li)
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    ranks = pagerank_quantized(
        edges, iters=3, scale=1_000_000, d_num=85, d_den=100
    )
    return ranks.select(
        F.col("node").alias("part_key"), F.col("rank").alias("rank_ppm")
    )


_LINK_CTE = """
WITH RECURSIVE c0 AS (
  SELECT p_partkey, p_name || '|' || p_type AS rec,
         split_part(p_name, ' ', 2) || '|' || p_brand AS blk
  FROM part
), c AS (
  SELECT min(p_partkey) AS p_partkey, rec, blk FROM c0 GROUP BY rec, blk
), sized AS (
  SELECT c.* FROM c JOIN (
    SELECT blk, count(*) AS n FROM c GROUP BY blk HAVING count(*) <= 10000
  ) s USING (blk)
), pairs AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
         CAST(levenshtein(a.rec, b.rec) AS INT) AS distance
  FROM sized a JOIN sized b
    ON a.blk = b.blk AND a.p_partkey < b.p_partkey
   AND levenshtein(a.rec, b.rec) <= 2
)"""


@register(
    "x205_link_pairs",
    _LINK_CTE + "\nSELECT id_a, id_b, distance FROM pairs",
)
def x205_link_pairs(spark, sf_dir):
    # blocked candidate generation + in-join Levenshtein pruning: one
    # block-keyed shuffle, candidate work bounded by block sizes (the
    # hot-block cap guards the quadratic), distance evaluated inside
    # the join condition by the codegen'd JVM levenshtein. Identical
    # (record, block) values collapse to a min-id representative first
    # (dedup-then-link, r9): the 10x-replica sf1 fixture made the
    # record-level spelling a 4.57M-pair / 283 s clique blowup; value
    # level is ~100x smaller and clique-size-independent.
    from dirty_js_etl_spark.operators.linkage import blocked_link_pairs

    part = _cat(spark, sf_dir).read("part")
    return blocked_link_pairs(
        part,
        "p_partkey",
        F.concat_ws("|", "p_name", "p_type"),
        F.concat_ws(
            "|", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)), F.col("p_brand")
        ),
        max_distance=2,
    )


@register(
    "x207_sorted_neighborhood",
    """
WITH c0 AS (
  SELECT p_partkey, p_name || '|' || p_type AS rec, p_brand AS blk
  FROM part
), c AS (
  SELECT min(p_partkey) AS p_partkey, rec, blk FROM c0 GROUP BY rec, blk
), ranked AS (
  SELECT p_partkey, rec, blk,
         row_number() OVER (PARTITION BY blk ORDER BY rec, p_partkey) AS rn
  FROM c
)
SELECT least(a.p_partkey, b.p_partkey) AS id_a,
       greatest(a.p_partkey, b.p_partkey) AS id_b,
       CAST(levenshtein(a.rec, b.rec) AS INT) AS distance
FROM ranked a JOIN ranked b
  ON a.blk = b.blk AND b.rn - a.rn > 0 AND b.rn - a.rn < 6
 AND levenshtein(a.rec, b.rec) <= 3
""",
)
def x207_sorted_neighborhood(spark, sf_dir):
    # the OTHER classic candidate generator: within each (coarser)
    # brand block, distinct record VALUES (identical values collapse
    # to a min-id representative first — dedup-then-link, r9, which
    # also stops cliques crowding real neighbors out of the window)
    # sort by their own value and pair with the next 5 in sort order
    # (window=6, max_distance=3) —
    # linear in the corpus (<= w-1 rows per value), so it works even
    # on blocks too hot to pair exhaustively. The rank window
    # partitions by block, never globally.
    from dirty_js_etl_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    part = _cat(spark, sf_dir).read("part")
    return sorted_neighborhood_pairs(
        part,
        "p_partkey",
        F.concat_ws("|", "p_name", "p_type"),
        F.col("p_brand"),
        # value-level ranking needs a slightly wider reach than the old
        # record-level pass: with cliques collapsed, the 4/2 setting
        # found only clique noise (0 distinct-value pairs on the
        # fixtures); 6/3 pairs 66 distinct values at sf0.01
        window=6,
        max_distance=3,
    )


@register(
    "x206_entity_resolution",
    _LINK_CTE
    + """,
nodes AS (
  SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), walk(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id
  WHERE w.label < e.src
), clusters AS (
  SELECT id, min(label) AS entity_id FROM walk GROUP BY id
), reps AS (
  -- NULL-rec records are per-record singletons: the
  -- representative map covers non-null record values only, and the
  -- re-attach coalesces to the record's own id
  SELECT min(p_partkey) AS p_partkey, rec, blk FROM c0
  WHERE rec IS NOT NULL GROUP BY rec, blk
)
SELECT p.p_partkey AS id,
       COALESCE(cl.entity_id, r.p_partkey, p.p_partkey) AS entity_id
FROM c0 p LEFT JOIN reps r
  ON p.rec = r.rec AND p.blk IS NOT DISTINCT FROM r.blk
LEFT JOIN clusters cl ON cl.id = r.p_partkey
""",
)
def x206_entity_resolution(spark, sf_dir):
    # full resolution: components over the VALUE-level match graph
    # (min-label pointer jumping — dup_clusters), every record then
    # inheriting its (rec, blk) representative's entity via one
    # null-safe value-keyed join (eqNullSafe / IS NOT DISTINCT FROM —
    # NULL-valued records must keep a row; identical
    # partition to record-level resolution for uncapped blocks — see
    # resolve_entities). Components run on the pair graph only;
    # singletons keep their representative's id.
    from dirty_js_etl_spark.operators.linkage import resolve_entities

    part = _cat(spark, sf_dir).read("part")
    return resolve_entities(
        part,
        "p_partkey",
        F.concat_ws("|", "p_name", "p_type"),
        F.concat_ws(
            "|", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)), F.col("p_brand")
        ),
        max_distance=2,
    )


_X210_SCORE = (
    "CAST(1.0 AS DOUBLE) * levenshtein(coalesce(a.f0,''), coalesce(b.f0,''))"
    " + CAST(0.5 AS DOUBLE) * levenshtein(coalesce(a.f1,''), coalesce(b.f1,''))"
    " + CAST(2.0 AS DOUBLE) * levenshtein(coalesce(a.f2,''), coalesce(b.f2,''))"
)


@register(
    "x210_weighted_link_pairs",
    f"""
WITH c0 AS (
  SELECT p_partkey AS id, p_name AS f0, p_type AS f1, p_brand AS f2,
         split_part(p_name, ' ', 2) AS blk
  FROM part
), c AS (
  SELECT min(id) AS id, f0, f1, f2, blk FROM c0 GROUP BY f0, f1, f2, blk
), sized AS (
  SELECT c.* FROM c JOIN (
    SELECT blk, count(*) AS n FROM c GROUP BY blk HAVING count(*) <= 10000
  ) s USING (blk)
)
SELECT a.id AS id_a, b.id AS id_b, {_X210_SCORE} AS score
FROM sized a JOIN sized b
  ON a.blk = b.blk AND a.id < b.id AND {_X210_SCORE} <= 2.0
""",
)
def x210_weighted_link_pairs(spark, sf_dir):
    # Fellegi-Sunter-lite per-field scoring: a brand character costs 4x
    # a free-text name character (2.0 vs 0.5-weighted type, 1.0 name),
    # so a name typo within the same brand matches while a brand
    # mismatch is rejected even with identical names — semantics the
    # single concatenated-record Levenshtein cannot express. Blocked on
    # the product noun only — brand must NOT block (brand disagreement
    # has to reach the SCORE). Scale shape: the scored value domain
    # saturates (64 names x 6 types x 25 brands => <= 9.6k distinct
    # tuples), so after value-dedup the within-block pair work is
    # CONSTANT in corpus size — dedup-then-link saturation, not block
    # fineness, is what bounds this query at 100 TB; the per-field
    # banded-levenshtein prefilters bound the per-pair cost. Weights are
    # binary-exact literals so the double score hashes identically on
    # both engines.
    from dirty_js_etl_spark.operators.linkage import weighted_link_pairs

    part = _cat(spark, sf_dir).read("part")
    return weighted_link_pairs(
        part,
        "p_partkey",
        ["p_name", "p_type", "p_brand"],
        [1.0, 0.5, 2.0],
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)),
        max_score=2.0,
    )


def _lsh_pair_ctes(
    recs_cte: str,
    shingle_k: int = 3,
    num_perm: int = 32,
    bands: int = 16,
    cap: int = 1000,
    seed: int = 42,
    max_distance: int = 2,
) -> str:
    """CTE chain ``norm .. lsh_pairs`` replaying the FULL LSH linkage
    pass (the x6b idiom) over ``recs_cte`` (id, rec): portable 60-bit
    md5 shingle hashes, the seeded (a*h+b) mod P signature family,
    md5-derived band buckets, the hot-bucket cap, the band-bucket
    candidate join, and the Levenshtein verify. Shared by the x208
    oracle and the x209 composed multi-pass replay."""
    from dirty_js_etl_spark.operators.dedup import _P, _hash_params

    rows = num_perm // bands
    params = _hash_params(num_perm, seed)
    mins = ",\n         ".join(
        f"min(({a} * hp + {b}) % {_P}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    band_sel = "\n  UNION ALL ".join(
        f"SELECT id, {j} AS band, CAST('0x' || substring(md5("
        f"concat_ws('_', {', '.join(f'm{j * rows + i}' for i in range(rows))}"
        f")), 1, 15) AS BIGINT) AS bucket FROM sigs"
        for j in range(bands)
    )
    return f"""norm AS (
  SELECT id, regexp_replace(lower(trim(rec)), '\\s+', ' ', 'g') AS t
  FROM {recs_cte}
), shingles AS (
  SELECT id, UNNEST(list_distinct(list_transform(
           range(1, greatest(length(t) - {shingle_k} + 1, 1) + 1),
           i -> substring(t, CAST(i AS INT), {shingle_k})))) AS g
  FROM norm
), hashed AS (
  SELECT id, CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % {_P} AS hp
  FROM shingles
), sigs AS (
  SELECT id,
         {mins}
  FROM hashed GROUP BY id
), banded AS (
  {band_sel}
), ok AS (
  SELECT band, bucket FROM banded GROUP BY 1, 2 HAVING count(*) <= {cap}
), kept AS (
  SELECT b.* FROM banded b JOIN ok USING (band, bucket)
), cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
), lsh_pairs AS (
  SELECT c.id_a, c.id_b,
         CAST(levenshtein(ra.rec, rb.rec) AS INT) AS distance
  FROM cands c
  JOIN {recs_cte} ra ON ra.id = c.id_a
  JOIN {recs_cte} rb ON rb.id = c.id_b
  WHERE levenshtein(ra.rec, rb.rec) <= {max_distance}
)"""


def _x208_oracle_sql() -> str:
    """DuckDB replay of the LSH linkage pass over the ``p_name|p_type``
    part records — every stage recomputed in SQL (see
    :func:`_lsh_pair_ctes`), so the typo-tolerant third linkage pass is
    hash-checked end to end."""
    return f"""
WITH recs AS (
  SELECT min(p_partkey) AS id, rec FROM (
    SELECT p_partkey, p_name || '|' || p_type AS rec FROM part
  ) GROUP BY rec
), {_lsh_pair_ctes("recs")}
SELECT id_a, id_b, distance FROM lsh_pairs
"""


def _x209_oracle_sql() -> str:
    """DuckDB replay of the COMPOSED multi-pass resolution: all three
    candidate generators recomputed in SQL (x205's exact-key blocking,
    x207's sorted neighborhood, x208's full LSH replay via
    :func:`_lsh_pair_ctes`), pair endpoints canonicalized to the
    record-value representative, components walked with the recursive
    CTE, and every record re-attached null-safely — so the flagship
    multi-pass pipeline is hash-checked end to end."""
    return f"""
WITH RECURSIVE r0 AS (
  SELECT p_partkey AS id, p_name || '|' || p_type AS rec,
         split_part(p_name, ' ', 2) || '|' || p_brand AS blk5,
         p_brand AS blk7
  FROM part
), v5 AS (
  SELECT min(id) AS id, rec, blk5 FROM r0 GROUP BY rec, blk5
), s5 AS (
  SELECT v5.* FROM v5 JOIN (
    SELECT blk5, count(*) AS n FROM v5 GROUP BY blk5
    HAVING count(*) <= 10000
  ) z USING (blk5)
), p5 AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM s5 a JOIN s5 b
    ON a.blk5 = b.blk5 AND a.id < b.id AND levenshtein(a.rec, b.rec) <= 2
), v7 AS (
  SELECT min(id) AS id, rec, blk7 FROM r0 GROUP BY rec, blk7
), rk AS (
  SELECT id, rec, blk7,
         row_number() OVER (PARTITION BY blk7 ORDER BY rec, id) AS rn
  FROM v7
), p7 AS (
  SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
  FROM rk a JOIN rk b
    ON a.blk7 = b.blk7 AND b.rn - a.rn > 0 AND b.rn - a.rn < 6
   AND levenshtein(a.rec, b.rec) <= 3
), recs AS (
  SELECT min(id) AS id, rec FROM r0 GROUP BY rec
), {_lsh_pair_ctes("recs")}, reps2 AS (
  -- NULL-rec records are per-record singletons
  SELECT min(id) AS id, rec FROM r0 WHERE rec IS NOT NULL GROUP BY rec
), m AS (
  SELECT r0.id, COALESCE(reps2.id, r0.id) AS rep
  FROM r0 LEFT JOIN reps2 ON r0.rec = reps2.rec
), allp AS (
  SELECT DISTINCT least(a.rep, b.rep) AS id_a,
                  greatest(a.rep, b.rep) AS id_b
  FROM (
    SELECT id_a, id_b FROM p5
    UNION ALL SELECT id_a, id_b FROM p7
    UNION ALL SELECT id_a, id_b FROM lsh_pairs
  ) u
  JOIN m a ON a.id = u.id_a
  JOIN m b ON b.id = u.id_b
  WHERE a.rep <> b.rep
), nodes AS (
  SELECT id_a AS id FROM allp UNION SELECT id_b FROM allp
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM allp
  UNION SELECT id_b, id_a FROM allp
), walk(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id
  WHERE w.label < e.src
), clusters AS (
  SELECT id, min(label) AS entity_id FROM walk GROUP BY id
)
SELECT m.id, COALESCE(cl.entity_id, m.rep) AS entity_id
FROM m LEFT JOIN clusters cl ON cl.id = m.rep
"""


@register("x209_multi_pass_resolution", _x209_oracle_sql())
def x209_multi_pass_resolution(spark, sf_dir):
    # the composed pipeline the linkage family exists for (catalog
    # dedup): union the three candidate generators — exact-key blocking
    # (misses typos in the blocking token), sorted neighborhood (misses
    # typos in the sort prefix), LSH char-gram bands (catches both) —
    # canonicalize pair endpoints to record-value representatives, and
    # resolve one entity per record over the union match graph.
    # Value-level throughout, with SHARED materializations: the (id, rec,
    # blocks) projection localCheckpoints ONCE and feeds all three generators
    # (no per-pass re-projection), and the rec-level rep table is computed ONCE
    # — it IS the LSH generator's value-dedup (fed via dedup_values=False;
    # identical by construction since lsh_link_pairs' own dedup is the same
    # min-id-per-rec groupBy) AND multi_pass_resolve's rep map.
    # Canonicalization stays candidate-cardinality, components run on the pair
    # graph only, the final re-attach is null-safe.
    from dirty_js_etl_spark.operators.dedup import portable_token_hash60
    from dirty_js_etl_spark.operators.linkage import (
        blocked_link_pairs,
        lsh_link_pairs,
        multi_pass_resolve,
        sorted_neighborhood_pairs,
    )

    part = _cat(spark, sf_dir).read("part")
    rec = F.concat_ws("|", "p_name", "p_type")
    blk5 = F.concat_ws(
        "|", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)), F.col("p_brand")
    )
    # base LAZY, recs EAGER (r14 job-floor audit): recs' eager build is
    # base's first consumer, so ONE blocking job materializes both
    # (base persists mid-job); p5/p7/resolve then read base's persisted
    # blocks. Two sequential blocking jobs became one, and no
    # concurrent-consumer race exists because recs' build finishes
    # before the action launches the generator branches.
    base = part.select(
        F.col("p_partkey").alias("id"),
        rec.alias("rec"),
        blk5.alias("blk5"),
        F.col("p_brand").alias("blk7"),
    ).localCheckpoint(eager=False)
    # min id per distinct non-null record value — rec is concat_ws
    # (never NULL), the filter is the generic contract
    recs = (
        base.filter(F.col("rec").isNotNull())
        .groupBy("rec")
        .agg(F.min("id").alias("id"))
        .localCheckpoint(eager=True)
    )
    p5 = blocked_link_pairs(base, "id", "rec", "blk5", max_distance=2)
    p7 = sorted_neighborhood_pairs(
        base, "id", "rec", "blk7", window=6, max_distance=3
    )
    p8 = lsh_link_pairs(
        recs,
        "id",
        "rec",
        max_distance=2,
        hash_fn=portable_token_hash60,
        portable_bands=True,
        dedup_values=False,  # recs IS the value-dedup'd table
    )
    return multi_pass_resolve(
        base,
        "id",
        "rec",
        [p5, p7, p8],
        reps=recs.select("rec", F.col("id").alias("rep")),
    )


@register("x208_lsh_link_pairs", _x208_oracle_sql())
def x208_lsh_link_pairs(spark, sf_dir):
    # typo-tolerant third linkage pass: MinHash-LSH blocks over the
    # WHOLE record string, so a typo in the x205 blocking token itself
    # (which escapes both the exact-key block and x207's brand-block
    # sort adjacency when it hits the sort prefix) still lands the pair
    # in a shared band bucket; Levenshtein verifies. Identical record
    # VALUES collapse to a min-id representative first (dedup-then-
    # link: on the 10x-replica sf1 fixture the record-level spelling is
    # a 52.9M-pair clique blowup; value-level is ~0.4M). Portable
    # hashes + md5 band buckets make every stage oracle-recomputable.
    from dirty_js_etl_spark.operators.dedup import portable_token_hash60
    from dirty_js_etl_spark.operators.linkage import lsh_link_pairs

    part = _cat(spark, sf_dir).read("part")
    return lsh_link_pairs(
        part,
        "p_partkey",
        F.concat_ws("|", "p_name", "p_type"),
        max_distance=2,
        hash_fn=portable_token_hash60,
        portable_bands=True,
    )
