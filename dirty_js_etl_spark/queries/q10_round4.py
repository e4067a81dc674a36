"""Split from the original queries.py (registration order preserved)."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dirty_js_etl_spark.catalog import Catalog, fixture_catalog
from dirty_js_etl_spark.functions.combinators import (
    AggregateColumn,
    CaseMap,
    CastAs,
    ConcatColumns,
    CopyOrClear,
    CopyOrDefault,
    DirectCopy,
    ForeignKey,
    InvertBit,
    MergeOn,
    RawValue,
    Sql,
    SqlFunction,
    StaticHash,
    TruncateString,
)
from dirty_js_etl_spark.plans.mapping import MappingSpec, compile_mapping, run_mapping
from dirty_js_etl_spark.plans.runner import Pipeline

from dirty_js_etl_spark.queries._shared import _cat, register
from dirty_js_etl_spark.queries.q03_analytics import _DEC, _disc_price
from dirty_js_etl_spark.queries.q04_corpus import (
    _NORM_SQL,
    _STREAM_COUNTER,
    _X12_CTE,
    _X21_SQL,
)

# ---------------------------------------------------------------------------
# Round 4 extensions: sub-document dedup, containment decontamination,
# domain gating, tolerance as-of, deeper TPC-H analog coverage
# ---------------------------------------------------------------------------


@register(
    "x152_paragraph_dedup",
    r"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents
), chunks AS (
  SELECT doc_id,
         UNNEST(list_transform(range(CAST(ceil(len(t)/10.0) AS BIGINT)),
           i -> struct_pack(pos := CAST(i AS INT),
                            para := array_to_string(t[(i*10+1):(i*10+10)], ' ')))) AS ch
  FROM toks
), ranked AS (
  SELECT doc_id, ch.pos AS pos, ch.para AS para,
         row_number() OVER (PARTITION BY md5(ch.para) ORDER BY doc_id, ch.pos) AS rn
  FROM chunks
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_kept,
       CASE WHEN count(*) FILTER (rn = 1) > 0
            THEN string_agg(para, ' ' ORDER BY pos) FILTER (rn = 1) END AS text_dedup
FROM ranked GROUP BY doc_id
""",
)
def x152_paragraph_dedup(spark, sf_dir):
    # CCNet/RefinedWeb-style SUB-document dedup: fixed-10-token chunks
    # stand in for paragraphs (fixtures have no line breaks); global
    # first occurrence (doc_id, pos) survives, docs reassemble from the
    # surviving chunks. One digest-keyed shuffle decides, one doc-keyed
    # shuffle reassembles — no broadcasts, no all-pairs anything.
    from dirty_js_etl_spark.operators.corpus import paragraph_dedup

    docs = _cat(spark, sf_dir).read("documents")
    return paragraph_dedup(docs, chunk_tokens=10)


@register(
    "x153_containment_decontaminate",
    r"""
WITH words AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM documents
), glist AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(w) - 3 + 1, 1) + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS gs
  FROM words
), grams AS (
  SELECT doc_id, UNNEST(gs) AS g FROM glist
), eval_grams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0
), counts AS (
  SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams FROM glist WHERE doc_id % 20 <> 0
), hits AS (
  SELECT c.doc_id, count(*) AS n_matched
  FROM grams c JOIN eval_grams e USING (g)
  WHERE c.doc_id % 20 <> 0 GROUP BY c.doc_id
)
SELECT t.doc_id, t.n_grams,
       CAST(coalesce(h.n_matched, 0) AS BIGINT) AS n_matched,
       coalesce(h.n_matched, 0) / CAST(t.n_grams AS DOUBLE) AS containment,
       coalesce(h.n_matched, 0) / CAST(t.n_grams AS DOUBLE) >= 0.1 AS flagged
FROM counts t LEFT JOIN hits h USING (doc_id)
""",
)
def x153_containment_decontaminate(spark, sf_dir):
    # containment (|doc ∩ eval| / |doc|) decontamination: length-
    # normalized complement of x45's absolute hit count. Denominator is
    # computed map-side; the only corpus shuffle is the doc-keyed hit
    # aggregation; eval grams broadcast (small by construction).
    from dirty_js_etl_spark.operators.corpus import containment_scores

    docs = _cat(spark, sf_dir).read("documents")
    return containment_scores(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        n=3,
        threshold=0.1,
    )


@register(
    "x157_domain_quality_filter",
    r"""
WITH feat AS (
  SELECT doc_id, source,
         length(text) AS n_chars,
         CAST(greatest(length(text), 1) AS DOUBLE) AS denom,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
), feat2 AS (
  SELECT doc_id, source, n_chars, n_alpha / denom AS alpha_ratio,
         len(list_filter(toks, t -> list_contains(
            ['the','a','an','and','or','of','to','in','is','it'], t)))
           / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio
  FROM feat
), q AS (
  SELECT source,
         CAST(round(alpha_ratio * 0.4 + stopword_ratio * 0.3 +
              (CASE WHEN n_chars BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END) * 0.3,
              6) AS DECIMAL(28,6)) AS q6
  FROM feat2
), per_dom AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs, sum(q6) AS qsum
  FROM q GROUP BY source
), overall AS (
  SELECT CAST(sum(qsum) AS DOUBLE) / sum(n_docs) AS gmean FROM per_dom
)
SELECT domain, n_docs,
       CAST(qsum AS DOUBLE) / n_docs AS avg_quality,
       (CAST(qsum AS DOUBLE) / n_docs) < gmean AS below_avg
FROM per_dom, overall
""",
)
def x157_domain_quality_filter(spark, sf_dir):
    # domain-level quality gate (RefinedWeb-style): per-source mean of
    # the x3 quality signal, flag sources below the corpus mean. Exact
    # decimal sums + one double division per side keep the aggregate
    # partition-order-invariant and engine-portable.
    from dirty_js_etl_spark.operators.corpus import domain_quality
    from dirty_js_etl_spark.operators.text import quality_score

    docs = _cat(spark, sf_dir).read("documents")
    return domain_quality(docs, quality_score(F.col("text")), "source")


@register(
    "x158_asof_tolerance",
    """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id, c.ts,
       p.p_ts AS last_purchase_ts, p.p_value AS last_purchase_value
FROM clicks c LEFT JOIN LATERAL (
  SELECT ts AS p_ts, value AS p_value
  FROM purchases p
  WHERE p.user_id = c.user_id AND p.ts <= c.ts
    AND p.ts >= c.ts - INTERVAL 30 MINUTE
  ORDER BY p.ts DESC, p.event_id LIMIT 1
) p ON TRUE
""",
)
def x158_asof_tolerance(spark, sf_dir):
    # as-of join with max-staleness tolerance (pandas merge_asof
    # `tolerance`): matches older than 30 minutes null out. Same single
    # union+window plan as x21 — the tolerance is a map-side post-filter
    # over the filled match time, not a second join.
    from dirty_js_etl_spark.operators.asof import asof_join

    events = _cat(spark, sf_dir).read("events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
        F.col("event_id").alias("p_eid"),
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        payload_cols=["p_ts", "p_value"],
        tiebreak_cols=["p_eid"],
        tolerance_seconds=1800,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("p_ts").alias("last_purchase_ts"),
        F.col("p_value").alias("last_purchase_value"),
    )


@register(
    "x159_tpch_q12",
    """
SELECT l_returnflag AS flag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag
""",
)
def x159_tpch_q12(spark, sf_dir):
    # Q12 analog (fixtures lack shipmode/commit/receipt dates):
    # late-shipment priority split by returnflag. orders⋈lineitem is the
    # one genuine big-big shuffle join; the late predicate is evaluated
    # post-join (it spans both sides), the 3-value agg rides the same
    # exchange via partial aggregation.
    cat = _cat(spark, sf_dir)
    li = cat.read("lineitem").select("l_orderkey", "l_shipdate", "l_returnflag")
    orders = cat.read("orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "x160_tpch_q19",
    f"""
SELECT CAST(sum({_DEC}) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
""",
)
def x160_tpch_q19(spark, sf_dir):
    # Q19 analog: disjunctive brand/size/quantity predicates. The
    # single-side conjuncts Catalyst derives (brand IN (...),
    # quantity <= 30 etc.) push to the scans; part broadcasts; the OR
    # residual evaluates post-join inside codegen.
    cat = _cat(spark, sf_dir)
    li = cat.read("lineitem")
    part = cat.read("part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    br = F.col("p_brand")
    cond = (
        ((br == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((br == "Brand#23") & sz.between(1, 25) & q.between(10, 20))
        | ((br == "Brand#3") & sz.between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "x161_tpch_q8",
    f"""
WITH volumes AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         {_DEC} AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume
                     ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(sum(volume) AS DOUBLE) AS mkt_share
FROM volumes GROUP BY o_year
""",
)
def x161_tpch_q8(spark, sf_dir):
    # Q8 analog (national market share): 7 joins, but only
    # lineitem⋈orders is big-big — part/supplier/customer/nation/region
    # all broadcast (AQE confirms), so the fact table shuffles once.
    # Exact decimal volume sums; ONE double division for the share.
    cat = _cat(spark, sf_dir)
    li = cat.read("lineitem")
    orders = cat.read("orders")
    part = cat.read("part").filter(F.col("p_type") == "PROMO")
    supplier = cat.read("supplier")
    nation = cat.read("nation")
    customer = cat.read("customer")
    region = cat.read("region").filter(F.col("r_name") == "ASIA")
    n1 = nation.alias("n1")
    n2 = nation.alias("n2")
    # selective broadcast dims FIRST: the PROMO part filter keeps ~1/6
    # of lineitem, so the one big-big exchange (⋈ orders) moves the
    # reduced fact, not the full table — join order is the fact-table
    # reduction rule Catalyst won't apply across a shuffle join on its
    # own (measured: 2.33s → 1.0s at sf0.1)
    vol = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(region), F.col("n1.n_regionkey") == region.r_regionkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _disc_price().alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    zero = F.lit("0.00").cast("decimal(18,2)")
    return vol.groupBy("o_year").agg(
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


@register(
    "x162_tpch_q21",
    """
WITH l AS (
  SELECT l_orderkey, l_suppkey, l_returnflag
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier JOIN l l1 ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM l l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
GROUP BY s_name
""",
)
def x162_tpch_q21(spark, sf_dir):
    # Q21 analog ("suppliers who kept orders waiting", returnflag='R'
    # standing in for the missing receipt/commit dates). The classic
    # plan is TWO correlated self-joins of lineitem; this rewrite
    # aggregates each order's supplier census once (n_supp,
    # n_supp_flagged) and turns both EXISTS into predicates on the
    # aggregate — one self-shuffle instead of two, no correlated
    # subqueries, same rows (proved by the oracle's literal
    # EXISTS/NOT EXISTS spelling).
    cat = _cat(spark, sf_dir)
    orders = cat.read("orders").filter(F.col("o_orderstatus") == "F")
    li = (
        cat.read("lineitem")
        .join(orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey", "l_returnflag")
    )
    census = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_supp_r"),
    )
    flagged = li.filter(F.col("l_returnflag") == "R")
    supplier = cat.read("supplier")
    return (
        flagged.join(census, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_supp_r") == 1))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register("x154_rolling_hll_wau", None)  # HLL estimate (engine sketch)
# -> rows-only; tests/test_sketch.py bounds the error vs the exact
# sliding distinct (x145) at <= 5% per day
def x154_rolling_hll_wau(spark, sf_dir):
    # Approximate trailing-7-day WAU via mergeable per-day HLL sketches:
    # the SCALE path for x145's exact sliding distinct. Events reduce to
    # one ~1.5 KB sketch row per day (single shuffle); the slide then
    # operates on the CALENDAR-sized sketch table (<= days x 7 rows,
    # data-independent), vs. the exact form's 7x fan-out of the distinct
    # (day,user) relation. At 100 TB the daily sketches also persist as
    # the incremental state: yesterday's sketches never recompute.
    ev = _cat(spark, sf_dir).read("events")
    daily = (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg(F.col("user_id"), 12).alias("sk"))
    )
    d2 = daily.select(F.col("day").alias("d"))
    return (
        daily.join(
            F.broadcast(d2),
            (F.col("day") <= F.col("d"))
            & (F.col("day") >= F.date_sub(F.col("d"), 6)),
        )
        .groupBy("d")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("wau7_approx")
        )
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "wau7_approx")
    )


@register(
    "x155_bloom_pruned_join",
    f"""
WITH o AS (
  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month
  FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT month,
       CAST(sum({_DEC}) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN o ON l_orderkey = o_orderkey
GROUP BY month
""",
)
def x155_bloom_pruned_join(spark, sf_dir):
    # Bloom-join: screen the fact table with a bounded m-bit filter
    # built from the selective build side BEFORE the exact join, so
    # ~80% of lineitem rows (non-urgent orders) die map-side and never
    # reach the shuffle. No false negatives => identical result to the
    # plain join, which is literally what the oracle runs. The filter
    # is ~128 KB regardless of order count — this is the scale story:
    # selectivity-proportional shuffle reduction at constant broadcast
    # cost (AQE cannot do this when the build side exceeds the
    # broadcast-join threshold). Honest local measurement: at sf0.1 on
    # local[32] the probe CPU (k hashes/row) EXCEEDS the saving,
    # because AQE broadcasts the 30k-key build side and the fact never
    # shuffles anyway — bloom_prune's regime is a non-broadcastable
    # build side + network-bound shuffle, i.e. the cluster, not this
    # box; the oracle equality (bloom+join ≡ join) is the point here.
    from dirty_js_etl_spark.operators.sketch import bloom_prune

    cat = _cat(spark, sf_dir)
    urgent = cat.read("orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM").alias("month"))
    li = cat.read("lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    pruned = bloom_prune(
        li, F.col("l_orderkey"), urgent.select("o_orderkey"),
        F.col("o_orderkey"), m_bits=1 << 20, k=4,
    )
    return (
        pruned.join(urgent, pruned.l_orderkey == urgent.o_orderkey)
        .groupBy("month")
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register("x156_bpe_vocab", None)  # iterative trainer — not SQL-
# expressible (driver-loop argmax per merge); determinism + hand-
# computed merge table pinned in tests/test_bpe.py
def x156_bpe_vocab(spark, sf_dir):
    # Distributed BPE merge learning (Sennrich 2016): corpus folds to
    # the word-frequency relation in ONE shuffle, then each of the 12
    # merges costs one narrow pair-count aggregation + a k=1
    # TakeOrdered (one row to the driver per merge — the learned merge
    # itself). Fully deterministic: integer counts, lexicographic
    # tie-break.
    from dirty_js_etl_spark.operators.bpe import learn_bpe_merges

    docs = _cat(spark, sf_dir).read("documents")
    return learn_bpe_merges(docs, n_merges=12)


def _x163_oracle_sql(cap: int = 1000, maxham: int = 3) -> str:
    """DuckDB recomputation of the FULL perceptual-hash pipeline:
    payload bytes (= UTF-8 text — the fixture
    payloads are ASCII, so ``ord`` per char IS the byte), numpy
    ``array_split``'s first-r-cells-get-the-extra-byte layout, cell
    mean vs global mean bits (integer byte sums ≤ a few hundred values
    are EXACT in IEEE double on both engines, so the strict > compares
    identical floats), 4×16-bit packing, the pigeonhole chunk join
    with the hot-bucket cap, and exact hamming."""
    sig_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN c // 16 = {k} THEN bit * (1 << (c % 16)) "
        f"ELSE 0 END) AS INT) AS c{k}"
        for k in range(4)
    )
    chunks_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {k} AS chunk_idx, c{k} AS chunk_val FROM sigs"
        for k in range(4)
    )
    ham = " + ".join(f"bit_count(xor(sa.c{k}, sb.c{k}))" for k in range(4))
    return f"""
WITH params AS (
  SELECT doc_id, length(text) AS n,
         length(text) // 64 AS l, length(text) % 64 AS r
  FROM documents
), bytes AS (
  SELECT d.doc_id, t.i,
         ord(substring(d.text, CAST(t.i AS INT) + 1, 1)) AS v
  FROM documents d, unnest(range(length(d.text))) AS t(i)
), cellbytes AS (
  SELECT b.doc_id,
         CASE WHEN b.i < p.r * (p.l + 1) THEN b.i // (p.l + 1)
              ELSE p.r + (b.i - p.r * (p.l + 1)) // greatest(p.l, 1)
         END AS cell, b.v
  FROM bytes b JOIN params p USING (doc_id)
), cellmeans AS (
  SELECT doc_id, cell, avg(v) AS m FROM cellbytes GROUP BY 1, 2
), gmeans AS (
  SELECT doc_id, avg(v) AS gm FROM bytes GROUP BY 1
), spine AS (
  SELECT p.doc_id, t.c FROM params p, unnest(range(64)) AS t(c)
), bits AS (
  SELECT s.doc_id, s.c,
         CASE WHEN coalesce(cm.m, 0.0) > g.gm THEN 1 ELSE 0 END AS bit
  FROM spine s
  LEFT JOIN cellmeans cm ON cm.doc_id = s.doc_id AND cm.cell = s.c
  LEFT JOIN gmeans g ON g.doc_id = s.doc_id
), sigs AS (
  SELECT doc_id,
         {sig_cols}
  FROM bits GROUP BY doc_id
), chunks AS (
  {chunks_union}
), ok AS (
  SELECT chunk_idx, chunk_val FROM chunks
  GROUP BY 1, 2 HAVING count(*) <= {cap}
), kept AS (
  SELECT c.* FROM chunks c JOIN ok USING (chunk_idx, chunk_val)
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
), scored AS (
  SELECT id_a, id_b, CAST({ham} AS INT) AS hamming
  FROM cands
  JOIN sigs sa ON sa.doc_id = id_a
  JOIN sigs sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, hamming FROM scored WHERE hamming <= {maxham}
"""


@register("x163_phash_near_dup", _x163_oracle_sql())
def x163_phash_near_dup(spark, sf_dir):
    # Multimodal near-dup: average-hash signatures from the payload
    # bytes (map-only Arrow kernel — the bytes never shuffle) + the
    # SAME pigeonhole chunk join as SimHash text dedup. Planted exact
    # duplicates in the fixture text produce identical payloads, so
    # hamming-0 pairs exist by construction.
    from dirty_js_etl_spark.operators.multimodal import (
        attach_binary_payload,
        phash_near_dup_pairs,
    )

    docs = _cat(spark, sf_dir).read("documents")
    with_payload = attach_binary_payload(docs)
    return phash_near_dup_pairs(with_payload, max_hamming=3)


@register(
    "x164_streaming_scd2",
    """
SELECT user_id, value, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CAST(row_number() OVER w AS BIGINT) AS version,
       lead(ts) OVER w IS NULL AS is_current
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def x164_streaming_scd2(spark, sf_dir):
    # Streaming SCD2 maintenance: foreachBatch chains each micro-batch
    # locally, closes the running history's open rows, and appends with
    # shifted version numbers — converging (under the per-key in-order
    # CDC contract) to the batch x44 history, which is literally the
    # oracle here. Multi-batch increments are pinned by
    # tests/test_streaming_scd.py.
    from dirty_js_etl_spark.streaming.scd import run_stream_scd2

    name = f"stream_scd2_{next(_STREAM_COUNTER)}"
    return run_stream_scd2(spark, sf_dir, query_name=name)


@register(
    "x165_prefix_jaccard_join",
    r"""
WITH words AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM documents
), shingles AS (
  SELECT doc_id, UNNEST(list_distinct(list_transform(
           range(1, greatest(len(w) - 3 + 1, 1) + 1),
           i -> array_to_string(w[i:i+2], ' ')))) AS g
  FROM words
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM shingles a JOIN shingles b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5
""",
)
def x165_prefix_jaccard_join(spark, sf_dir):
    # EXACT similarity self-join via prefix filtering (AllPairs/PPJoin):
    # only each doc's rarest |d|-ceil(t|d|)+1 shingles are indexed, so
    # the quadratic candidate join runs on a t-proportional, df-hottest-
    # excluded slice of the postings — lossless, unlike x5's df cap: the
    # oracle is the UNCAPPED brute-force pair join and must match
    # bit-for-bit.
    from dirty_js_etl_spark.operators.dedup import prefix_jaccard_pairs

    docs = _cat(spark, sf_dir).read("documents")
    return prefix_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, jaccard_threshold=0.5
    )


@register(
    "x166_mad_outliers",
    """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, any_value(med) AS med, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(m.med, 6) + 0.0 AS median,
       round(m.mad, 6) + 0.0 AS mad,
       CAST(count(*) FILTER (abs(d.value - m.med) > 3 * 1.4826 * m.mad)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type, m.med, m.mad
""",
)
def x166_mad_outliers(spark, sf_dir):
    # Robust outlier audit: median/MAD (breakdown point 50%) instead of
    # mean/stddev (x86, breakdown 0) — the screen a long-tailed metric
    # column actually needs. Two grouped exact-percentile passes sharing
    # the event_type shuffle, medians re-attached by a per-type join
    # (5 types — AQE broadcasts); exact percentile needs the full group,
    # at 100 TB swap percentile_approx like x40's note.
    ev = _cat(spark, sf_dir).read("events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.any_value("med").alias("med"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
    )
    out = (
        ev.join(mad, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )
    return out.select(
        "event_type",
        "n_rows",
        (F.round("med", 6) + 0.0).alias("median"),
        (F.round("mad", 6) + 0.0).alias("mad"),
        "n_outliers",
    )


def _x167_oracle_sql(
    num_perm: int = 64,
    bands: int = 16,
    cap: int = 1000,
    seed: int = 42,
) -> str:
    """Full DuckDB replay of the INCREMENTAL MinHash screen (the x6b
    portable pipeline, split batch-vs-corpus): portable md5-60bit
    shingle hashes, the same seeded (a*h+b) mod P signatures, md5 band
    buckets, the asymmetric caps (corpus-populated buckets capped for
    the cross probe, batch buckets capped for the within self-join —
    exactly incremental_minhash_pairs), and the count-based exact
    Jaccard verify. Candidate sets and scores agree bit-for-bit."""
    from dirty_js_etl_spark.operators.dedup import _P, _hash_params

    rows = num_perm // bands
    params = _hash_params(num_perm, seed)
    mins = ",\n         ".join(
        f"min(({a} * hp + {b}) % {_P}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    band_sel = "\n  UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, CAST('0x' || substring(md5("
        f"concat_ws('_', {', '.join(f'm{j * rows + i}' for i in range(rows))}"
        f")), 1, 15) AS BIGINT) AS bucket FROM sigs"
        for j in range(bands)
    )
    return f"""
WITH words AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), shingles AS (
  SELECT doc_id, UNNEST(list_distinct(list_transform(
           range(1, greatest(len(w) - 3 + 1, 1) + 1),
           i -> array_to_string(w[i:i+2], ' ')))) AS g
  FROM words
), hashed AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) AS h60,
         CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % {_P} AS hp
  FROM shingles
), sigs AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
), banded AS (
  {band_sel}
), nb AS (
  SELECT * FROM banded WHERE doc_id % 10 = 0
), cb AS (
  SELECT * FROM banded WHERE doc_id % 10 <> 0
), cok AS (
  SELECT band, bucket FROM cb GROUP BY 1, 2 HAVING count(*) <= {cap}
), cbk AS (
  SELECT cb.* FROM cb JOIN cok USING (band, bucket)
), nok AS (
  SELECT band, bucket FROM nb GROUP BY 1, 2 HAVING count(*) <= {cap}
), nbk AS (
  SELECT nb.* FROM nb JOIN nok USING (band, bucket)
), cross_c AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM nb a JOIN cbk b ON a.band = b.band AND a.bucket = b.bucket
), within_c AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM nbk a JOIN nbk b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM hashed GROUP BY doc_id
), inter_x AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cross_c c
  JOIN hashed ha ON ha.doc_id = c.id_a
  JOIN hashed hb ON hb.doc_id = c.id_b AND hb.h60 = ha.h60
  GROUP BY 1, 2
), inter_w AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM within_c c
  JOIN hashed ha ON ha.doc_id = c.id_a
  JOIN hashed hb ON hb.doc_id = c.id_b AND hb.h60 = ha.h60
  GROUP BY 1, 2
), scored_x AS (
  SELECT id_a, id_b,
         i / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
  FROM inter_x JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
), scored_w AS (
  SELECT id_a, id_b,
         i / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
  FROM inter_w JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, jaccard, 'corpus' AS against
FROM scored_x WHERE jaccard >= 0.5
UNION ALL
SELECT id_a, id_b, jaccard, 'batch' AS against
FROM scored_w WHERE jaccard >= 0.5
"""


@register("x167_incremental_minhash", _x167_oracle_sql())
def x167_incremental_minhash(spark, sf_dir):
    # Daily-ingest NEAR-dup screen: the new batch (doc_id % 10 == 0)
    # probes the corpus's band-bucket index (minhash_band_table — the
    # table a production pipeline persists) plus its own within-batch
    # buckets; the corpus x corpus join never happens, so admission cost
    # scales with the delta, not the 100 TB history. MinHash complement
    # of x151's exact-fingerprint incremental dedup. Hash-checked
    # (round 7) on the portable md5 hashes; recall-vs-full-LSH and
    # corpus-pair-exclusion stay pinned in test_dedup.py.
    from dirty_js_etl_spark.operators.dedup import (
        incremental_minhash_pairs,
        portable_token_hash60,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return incremental_minhash_pairs(
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter(F.col("doc_id") % 10 != 0),
        hash_fn=portable_token_hash60,
        portable_bands=True,
    )


@register(
    "x168_interval_overlap_join",
    _X12_CTE.rstrip() + """,
sessions AS (
  SELECT user_id, CAST(user_id * 1000000 + session_seq AS BIGINT) AS session_id,
         min(ts) AS session_start, max(ts) AS session_end
  FROM numbered GROUP BY user_id, session_id
), bad_hours AS (
  SELECT date_trunc('hour', ts) AS h
  FROM events WHERE event_type = 'error'
  GROUP BY 1 HAVING count(*) >= 6
)
SELECT s.session_id, CAST(count(*) AS BIGINT) AS n_bad_hours
FROM sessions s JOIN bad_hours b
  ON s.session_start <= b.h + INTERVAL 3599 SECOND
 AND s.session_end >= b.h
GROUP BY s.session_id
""",
)
def x168_interval_overlap_join(spark, sf_dir):
    # interval × interval OVERLAP join (x27 is point-in-interval): user
    # sessions × globally error-heavy hours, via the two-sided bucket
    # decomposition — both interval sets explode into covered hour
    # buckets, equi-join on the bucket, exact predicate verifies, one
    # DISTINCT collapses multi-bucket overlaps. Spark has no interval
    # join operator; the naive spelling is a broadcast-nested-loop O(n·m).
    from dirty_js_etl_spark.operators.events import session_stats
    from dirty_js_etl_spark.operators.ranges import interval_overlap_join

    events = _cat(spark, sf_dir).read("events")
    sessions = session_stats(events, gap_minutes=30).select(
        "session_id", "session_start", "session_end"
    )
    bad = (
        events.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 6)
        .select(
            F.col("h").alias("h_start"),
            (F.col("h") + F.expr("INTERVAL 3599 SECONDS")).alias("h_end"),
        )
    )
    out = interval_overlap_join(
        sessions,
        bad,
        on=None,
        left_start="session_start",
        left_end="session_end",
        right_start="h_start",
        right_end="h_end",
    )
    return out.groupBy("session_id").agg(
        F.count(F.lit(1)).alias("n_bad_hours")
    )


@register(
    "x169_expectations",
    """
WITH base AS (SELECT * FROM orders)
SELECT 'o_totalprice_positive' AS rule,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
       sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) = 0 AS ok
FROM base
UNION ALL
SELECT 'o_orderstatus_enum',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS BIGINT),
       sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) = 0
FROM base
UNION ALL
SELECT 'o_custkey_not_null',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT),
       sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) = 0
FROM base
UNION ALL
SELECT 'o_orderdate_in_range',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01'
                      AND o_orderdate < TIMESTAMP '2000-01-01'
                     THEN 0 ELSE 1 END) AS BIGINT),
       sum(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01'
                 AND o_orderdate < TIMESTAMP '2000-01-01'
                THEN 0 ELSE 1 END) = 0
FROM base
UNION ALL
SELECT 'unique_o_orderkey',
       CAST(count(*) AS BIGINT),
       CAST((SELECT coalesce(sum(c), 0) FROM (
          SELECT count(*) AS c FROM base GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT),
       (SELECT coalesce(sum(c), 0) FROM (
          SELECT count(*) AS c FROM base GROUP BY o_orderkey HAVING count(*) > 1)) = 0
FROM base
""",
)
def x169_expectations(spark, sf_dir):
    # Declarative validation gate: 4 row-level rules fold into ONE scan
    # / one conditional-aggregation pass (adding a rule adds a column,
    # not a job); the key-uniqueness rule is the one extra key-shuffled
    # agg. NULL predicate = violation (conservative gate contract).
    from dirty_js_etl_spark.operators.expectations import (
        Expectation,
        not_null,
        unique_key,
        validate,
    )

    orders = _cat(spark, sf_dir).read("orders")
    rules = [
        Expectation("o_totalprice_positive", F.col("o_totalprice") > 0),
        Expectation(
            "o_orderstatus_enum", F.col("o_orderstatus").isin("F", "O", "P")
        ),
        not_null("o_custkey"),
        Expectation(
            "o_orderdate_in_range",
            (F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")),
        ),
        unique_key("o_orderkey"),
    ]
    return validate(orders, rules)


@register(
    "x170_period_over_period",
    """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1
)
SELECT month, rev_cents,
       lag(rev_cents) OVER (ORDER BY month) AS prev_cents,
       rev_cents - lag(rev_cents) OVER (ORDER BY month) AS delta_cents,
       CASE WHEN lag(rev_cents) OVER (ORDER BY month) > 0 THEN
         CAST(trunc(((rev_cents - lag(rev_cents) OVER (ORDER BY month)) * 10000)
              / CAST(lag(rev_cents) OVER (ORDER BY month) AS DOUBLE)) AS BIGINT)
       END AS mom_bps
FROM m
""",
)
def x170_period_over_period(spark, sf_dir):
    # BI staple: month-over-month revenue deltas, integer-exact (cents
    # + floor-division bps — no float drift across engines). The lag
    # window runs over the MONTH-grain relation (<= 12·years rows after
    # the one grouped shuffle), so the unpartitioned window sorts a
    # calendar-bounded, data-independent row count — not the fact table.
    from pyspark.sql import Window

    orders = _cat(spark, sf_dir).read("orders")
    m = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy("month")
    base = m.withColumn("prev_cents", F.lag("rev_cents").over(w))
    # Spark's double→bigint CAST truncates toward zero (the oracle
    # spells CAST(trunc(...)) because DuckDB's CAST rounds — the
    # module-header rule)
    bps = F.expr(
        "CAST((rev_cents - prev_cents) * 10000"
        " / CAST(prev_cents AS DOUBLE) AS BIGINT)"
    )
    return base.select(
        "month",
        "rev_cents",
        "prev_cents",
        (F.col("rev_cents") - F.col("prev_cents")).alias("delta_cents"),
        F.when(F.col("prev_cents") > 0, bps).alias("mom_bps"),
    )


@register("x171_asof_bucketed", _X21_SQL)
def x171_asof_bucketed(spark, sf_dir):
    # the SKEW-PROOF as-of: same session-assignment semantics (and the
    # same DuckDB ASOF JOIN oracle) as x21, but windows partition on
    # (user, time-bucket) instead of (user) — a whale user's sort is
    # bounded by its per-bucket rows; earlier buckets hand their latest
    # session forward through one bucket-grain window per key.
    from dirty_js_etl_spark.operators.asof import asof_join_bucketed
    from dirty_js_etl_spark.operators.events import session_stats

    events = _cat(spark, sf_dir).read("events")
    sessions = session_stats(events, gap_minutes=30).select(
        "user_id", "session_start", "session_id"
    )
    out = asof_join_bucketed(
        events.select("event_id", "user_id", "ts"),
        sessions,
        on="user_id",
        left_time="ts",
        right_time="session_start",
        payload_cols=["session_id"],
        bucket_seconds=6 * 3600,
    )
    return out.select("event_id", "user_id", "session_id")




@register(
    "x173_hierarchy_flatten",
    """
WITH RECURSIVE edges AS (
  SELECT c_custkey AS id,
         CASE WHEN c_custkey <= 1 THEN NULL ELSE c_custkey // 2 END AS parent
  FROM customer
), walk AS (
  SELECT id AS node, id AS cur, 0 AS depth FROM edges
  UNION ALL
  SELECT w.node, e.parent AS cur, w.depth + 1
  FROM walk w JOIN edges e ON w.cur = e.id
  WHERE e.parent IS NOT NULL
)
SELECT node AS id, arg_max(cur, depth) AS root, CAST(max(depth) AS INT) AS depth
FROM walk GROUP BY node
""",
)
def x173_hierarchy_flatten(spark, sf_dir):
    # hierarchy flattening by POINTER DOUBLING: every round each node's
    # pointer jumps to its target's pointer, so a depth-D chain
    # converges in ceil(log2 D) join rounds — the oracle is the
    # unbounded recursive CTE walking the same parent table one hop at
    # a time. Parent relation: custkey -> custkey // 2 (a binary tree
    # over the customer dimension, treated as an opaque edge table —
    # the operator never exploits the arithmetic).
    from dirty_js_etl_spark.operators.hierarchy import flatten_hierarchy

    customer = _cat(spark, sf_dir).read("customer")
    edges = customer.select(
        F.col("c_custkey").alias("id"),
        F.when(F.col("c_custkey") <= 1, F.lit(None).cast("long"))
        .otherwise(F.expr("c_custkey div 2"))
        .alias("parent"),
    )
    return flatten_hierarchy(edges, "id", "parent")


_X174_B_SQL = """
  SELECT c_custkey, c_name, c_nationkey, c_acctbal,
         CASE WHEN c_custkey % 97 = 3 THEN 'DIVERGED' ELSE c_mktsegment END
           AS c_mktsegment
  FROM customer WHERE c_custkey % 101 <> 7
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 103 = 5
"""


@register(
    "x174_replica_reconcile",
    f"""
WITH b AS ({_X174_B_SQL})
SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
       CASE WHEN b.c_custkey IS NULL THEN 'only_left'
            WHEN a.c_custkey IS NULL THEN 'only_right'
            ELSE 'modified' END AS status
FROM customer a FULL JOIN b ON a.c_custkey = b.c_custkey
WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
   OR (a.c_name IS DISTINCT FROM b.c_name
    OR a.c_nationkey IS DISTINCT FROM b.c_nationkey
    OR a.c_acctbal IS DISTINCT FROM b.c_acctbal
    OR a.c_mktsegment IS DISTINCT FROM b.c_mktsegment)
""",
)
def x174_replica_reconcile(spark, sf_dir):
    # Anti-entropy replica diff: both copies fold to <=1024 segment
    # digests (map-only hash + one segment-keyed agg); only segments
    # whose digests disagree reach the row-level full-outer compare —
    # at parity the network cost is 2x1024 digest rows regardless of
    # table size. Replica B injects deterministic deletions (%101=7),
    # modifications (%97=3) and insertions (%103=5); the oracle is the
    # EXHAUSTIVE full-outer diff, so fixture runs also certify no
    # digest collision.
    from dirty_js_etl_spark.operators.reconcile import reconcile

    a = _cat(spark, sf_dir).read("customer")
    modified = F.when(
        F.col("c_custkey") % 97 == 3, F.lit("DIVERGED")
    ).otherwise(F.col("c_mktsegment"))
    b = (
        a.filter(F.col("c_custkey") % 101 != 7)
        .withColumn("c_mktsegment", modified)
        .unionByName(
            a.filter(F.col("c_custkey") % 103 == 5).withColumn(
                "c_custkey", F.col("c_custkey") + 1000000
            )
        )
    )
    return reconcile(a, b, "c_custkey")


@register(
    "x175_phrase_search",
    f"""
WITH tok AS (
  SELECT doc_id, UNNEST(list_transform(string_split({_NORM_SQL}, ' '),
           (t, i) -> struct_pack(t := t, pos := CAST(i - 1 AS INT)))) AS w
  FROM documents
), a AS (
  SELECT doc_id, w.pos AS pos FROM tok WHERE w.t = 'merge'
), b AS (
  SELECT doc_id, w.pos AS pos FROM tok WHERE w.t = 'scan'
)
SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(a.pos) AS INT) AS first_pos
FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
GROUP BY a.doc_id
""",
)
def x175_phrase_search(spark, sf_dir):
    # PHRASE search ("merge scan" as adjacent tokens) over a positional
    # inverted index: postings carry (doc, pos); the phrase is an
    # equi-join on (doc, pos+1) between the two term posting lists —
    # the classic positional-postings intersection, shuffling only the
    # two terms' postings (term-selective), never the corpus. x97 is
    # the AND (bag-of-words) form; this is the ordered form.
    docs = _cat(spark, sf_dir).read("documents")
    from dirty_js_etl_spark.operators.text import normalize_text

    toks = F.split(normalize_text(F.col("text")), " ")
    posting = docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "t")
    )
    a = posting.filter(F.col("t") == "merge").select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = posting.filter(F.col("t") == "scan").select(
        "doc_id", F.col("pos").alias("pb")
    )
    return (
        a.join(b, (a.doc_id == b.doc_id) & (b.pb == a.pa + 1))
        .groupBy(a.doc_id)
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("pa").cast("int").alias("first_pos"),
        )
    )


@register(
    "x176_scd2_time_travel",
    """
WITH hist AS (
  SELECT user_id, value, ts AS valid_from,
         lead(ts) OVER w AS valid_to
  FROM events WHERE event_type = 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, value, valid_from
FROM hist
WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 12:00:00')
""",
)
def x176_scd2_time_travel(spark, sf_dir):
    # AS-OF-timestamp snapshot reconstruction from the SCD2 history
    # (x44): the row version whose validity interval covers T — the
    # query every point-in-time ML feature backfill runs. One
    # key-partitioned window builds the history; the snapshot filter is
    # map-side. (On Delta/Iceberg this maps to native time travel; over
    # plain parquet the SCD2 relation IS the time machine.)
    from dirty_js_etl_spark.operators.scd import scd2_history

    events = _cat(spark, sf_dir).read("events")
    t = F.lit("2024-01-15 12:00:00").cast("timestamp")
    hist = scd2_history(
        events.filter(F.col("event_type") == "purchase"),
        key_col="user_id",
        ts_col="ts",
        value_cols=["value"],
        tie_break="event_id",
    )
    return hist.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("user_id", "value", "valid_from")


@register(
    "x177_lateness_profile",
    """
WITH arr AS (
  SELECT event_type, ts,
         max(ts) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS max_prev
  FROM events
), late AS (
  SELECT event_type,
         greatest(0, epoch_us(max_prev) - epoch_us(ts)) AS late_us
  FROM arr WHERE max_prev IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(trunc(quantile_cont(late_us, 0.5)) AS BIGINT) AS p50_late_us,
       CAST(trunc(quantile_cont(late_us, 0.95)) AS BIGINT) AS p95_late_us,
       CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) * 10000
            // count(*) AS BIGINT) AS late_1h_bps
FROM late GROUP BY event_type
""",
)
def x177_lateness_profile(spark, sf_dir):
    # Out-of-orderness profile of the event stream — the measurement
    # that SIZES a watermark: per event, how far behind the max event
    # time already seen (arrival order = event_id) it arrived; then
    # p50/p95 lateness and the share beyond 1 h per type. The running
    # max over arrival order is inherently global, so it rides the
    # range-partitioned two-level ranking plan (`ranking.py`, the
    # round-3 departitioning machinery): per-partition running max +
    # a broadcast ≤ num_partitions offset table of strictly-earlier
    # partition maxima — no data-sized single-partition sort.
    from dirty_js_etl_spark.operators.ranking import with_global_prefix_max

    ev = _cat(spark, sf_dir).read("events").select(
        "event_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    arr = with_global_prefix_max(
        ev, ["event_id"], "ts", "__max_prev", strictly_earlier=True
    )
    late = arr.filter(F.col("__max_prev").isNotNull()).select(
        "event_type",
        F.greatest(
            F.lit(0).cast("long"),
            F.unix_micros("__max_prev") - F.unix_micros("ts"),
        ).alias("late_us"),
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("CAST(percentile(late_us, 0.5) AS BIGINT)").alias("p50_late_us"),
        F.expr("CAST(percentile(late_us, 0.95) AS BIGINT)").alias("p95_late_us"),
        F.expr(
            "CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END)"
            " * 10000 DIV count(*) AS BIGINT)"
        ).alias("late_1h_bps"),
    )


@register(
    "x178_seasonal_naive_backtest",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
), joined AS (
  SELECT a.event_type, a.day, a.n,
         f.n AS forecast,          -- seasonal naive: same weekday last week
         p.n AS naive1             -- naive-1: yesterday
  FROM daily a
  JOIN daily f ON f.event_type = a.event_type AND f.day = a.day - 7
  JOIN daily p ON p.event_type = a.event_type AND p.day = a.day - 1
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(abs(n - forecast)) AS BIGINT) AS snaive_abs_err,
       CAST(sum(abs(n - naive1)) AS BIGINT) AS naive1_abs_err,
       CAST(sum(abs(n - forecast)) AS DOUBLE)
         / CAST(sum(abs(n - naive1)) AS DOUBLE) AS mase
FROM joined GROUP BY event_type
""",
)
def x178_seasonal_naive_backtest(spark, sf_dir):
    # Forecasting-baseline backtest: seasonal-naive (same weekday last
    # week) vs naive-1 (yesterday) on daily event counts — MASE (the
    # standard scale-free forecast error) as one double division of
    # integer-exact absolute-error sums. All joins are on the
    # CALENDAR-GRAIN relation (days x types after the one groupBy
    # shuffle), so evaluation cost is data-independent past the first
    # aggregation. Extending the same skeleton to real models means
    # swapping the forecast column; the evaluation plumbing is the
    # reusable part.
    ev = _cat(spark, sf_dir).read("events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    f = daily.select(
        F.col("event_type").alias("fe"),
        F.date_add("day", 7).alias("fd"),
        F.col("n").alias("forecast"),
    )
    p = daily.select(
        F.col("event_type").alias("pe"),
        F.date_add("day", 1).alias("pd"),
        F.col("n").alias("naive1"),
    )
    j = daily.join(
        f, (daily.event_type == f.fe) & (daily.day == f.fd)
    ).join(p, (daily.event_type == p.pe) & (daily.day == p.pd))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.abs(F.col("n") - F.col("forecast"))).alias("snaive_abs_err"),
        F.sum(F.abs(F.col("n") - F.col("naive1"))).alias("naive1_abs_err"),
        (
            F.sum(F.abs(F.col("n") - F.col("forecast"))).cast("double")
            / F.sum(F.abs(F.col("n") - F.col("naive1"))).cast("double")
        ).alias("mase"),
    )


@register(
    "x179_grouped_kfold",
    """
WITH fold_of AS (
  SELECT DISTINCT user_id,
         CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 5 AS INT) AS fold
  FROM events
)
SELECT f.fold,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN fold_of f ON e.user_id = f.user_id
GROUP BY f.fold
""",
)
def x179_grouped_kfold(spark, sf_dir):
    # GROUP-aware k-fold assignment: every row of a user lands in the
    # same fold (hash of the GROUP key, not the row id), the split that
    # prevents train/test leakage through correlated rows — the ML
    # staple x41's row-level split cannot provide. Deterministic,
    # partition-invariant, engine-portable md5 bucketing; fold
    # assignment is a pure map-side expression on the fact table — no
    # join anywhere (the oracle routes through a DISTINCT-users CTE
    # only because SQL needs a relation to attach the bucket to).
    from dirty_js_etl_spark.operators.splits import hash_bucket

    ev = _cat(spark, sf_dir).read("events")
    with_fold = ev.withColumn("fold", hash_bucket(F.col("user_id"), 5))
    return with_fold.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


@register(
    "x180_negative_sampling",
    """
WITH purchased AS (
  SELECT DISTINCT o_custkey AS user_id, l_partkey AS part_id
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), n_parts AS (
  SELECT count(*) AS n FROM part
), probes AS (
  SELECT p.user_id, s.slot,
         CAST(CAST('0x' || substring(md5(p.user_id || ':' || s.slot), 1, 8)
              AS BIGINT) % (SELECT n FROM n_parts) AS BIGINT) AS cand
  FROM (SELECT DISTINCT user_id FROM purchased) p,
       (SELECT UNNEST(range(12)) AS slot) s
), negatives AS (
  SELECT pr.user_id, pr.cand AS part_id, min(pr.slot) AS slot
  FROM probes pr LEFT JOIN purchased pu
    ON pu.user_id = pr.user_id AND pu.part_id = pr.cand
  WHERE pu.part_id IS NULL
  GROUP BY pr.user_id, pr.cand
), ranked AS (
  SELECT user_id, part_id, slot,
         row_number() OVER (PARTITION BY user_id ORDER BY slot, part_id) AS rn
  FROM negatives
)
SELECT user_id, part_id, CAST(slot AS INT) AS slot
FROM ranked WHERE rn <= 5
""",
)
def x180_negative_sampling(spark, sf_dir):
    # Deterministic NEGATIVE sampling for recommender training: per
    # user, 5 pseudo-random parts they never purchased. 12 hash probes
    # per user materialize map-side (explode of a 12-literal sequence —
    # no candidate×catalog cross join), the anti join against the
    # purchase set is the one data shuffle, and the keep-k is a
    # per-user window. Engine-portable md5 probing means the SAMPLE
    # ITSELF is reproducible across engines (the oracle builds the
    # identical one) and across reruns — the property a training
    # pipeline needs for resumability. Probe-set sizing: 12 probes for
    # k=5 keeps P(fewer than 5 survivors) negligible at this
    # catalog/purchase density; production sizes m by the user's
    # purchase share of the catalog.
    cat = _cat(spark, sf_dir)
    orders = cat.read("orders").select("o_custkey", "o_orderkey")
    li = cat.read("lineitem").select("l_orderkey", "l_partkey")
    purchased = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("part_id"),
        )
        .distinct()
    )
    n_parts = cat.read("part").count()  # scalar catalog size (bounded)
    users = purchased.select("user_id").distinct()
    hex8 = F.substring(
        F.md5(F.concat_ws(":", F.col("user_id"), F.col("slot"))), 1, 8
    )
    probes = users.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(11))).alias("slot"),
    ).select(
        "user_id",
        "slot",
        (F.conv(hex8, 16, 10).cast("bigint") % n_parts).alias("cand"),
    )
    negatives = (
        probes.join(
            purchased,
            (probes.user_id == purchased.user_id)
            & (probes.cand == purchased.part_id),
            "left_anti",
        )
        .groupBy("user_id", F.col("cand").alias("part_id"))
        .agg(F.min("slot").alias("slot"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("slot", "part_id")
    return (
        negatives.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("user_id", "part_id", F.col("slot").cast("int").alias("slot"))
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


@register("x182_kll_quantile_rollup", None)  # engine sketch -> rows-only;
# error bound vs exact percentiles pinned in tests/test_sketches.py
def x182_kll_quantile_rollup(spark, sf_dir):
    # Two-level MERGEABLE quantile rollup (the x144 HLL pattern for
    # percentiles): per-day KLL sketches of purchase values reduce each
    # day to one ~KB state row; the weekly p50/p95 come from MERGING
    # the daily sketches — never re-touching raw data. This is the
    # incremental-percentile architecture exact forms (x40) cannot
    # offer: yesterday's sketch never recomputes, and the merge is
    # associative across shards/days.
    ev = _cat(spark, sf_dir).read("events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(F.kll_sketch_agg_double("value").alias("sk"))
    weekly = daily.groupBy(
        F.weekofyear("day").alias("week")
    ).agg(F.kll_merge_agg_double("sk").alias("wsk"))
    return weekly.select(
        "week",
        F.kll_sketch_get_n_double("wsk").cast("long").alias("n"),
        F.kll_sketch_get_quantile_double("wsk", F.lit(0.5)).alias("p50_approx"),
        F.kll_sketch_get_quantile_double("wsk", F.lit(0.95)).alias("p95_approx"),
    )


@register("x183_theta_audience_overlap", None)  # engine sketch ->
# rows-only; error bound vs exact distinct set ops in test_sketches.py
def x183_theta_audience_overlap(spark, sf_dir):
    # Audience set algebra via THETA sketches — the scalable form of
    # "how many users both viewed and purchased" (ad-tech overlap
    # reports): each event type folds to one bounded sketch row (one
    # shuffle); intersection/difference run on the SKETCHES, not the
    # user sets — |types|² set ops at constant cost, vs an exact
    # distinct-intersection join whose cost is data-sized per pair.
    ev = _cat(spark, sf_dir).read("events")
    sk = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk")
    )
    v = sk.filter(F.col("event_type") == "view").select(
        F.col("sk").alias("sv")
    )
    p = sk.filter(F.col("event_type") == "purchase").select(
        F.col("sk").alias("sp")
    )
    both = v.crossJoin(F.broadcast(p))  # two 1-row sketch tables
    return both.select(
        F.theta_sketch_estimate(F.col("sv")).cast("long").alias("viewers"),
        F.theta_sketch_estimate(F.col("sp")).cast("long").alias("purchasers"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sv"), F.col("sp"))
        ).cast("long").alias("overlap_approx"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("sv"), F.col("sp"))
        ).cast("long").alias("view_only_approx"),
    )


@register(
    "x184_custom_stream_source",
    """
SELECT CAST(seq % 10 AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum((seq * 37) % 100) AS DOUBLE) AS total
FROM (SELECT UNNEST(range(1000)) AS seq)
GROUP BY 1
""",
)
def x184_custom_stream_source(spark, sf_dir):
    # Custom PYTHON STREAMING data source (Spark 4
    # SimpleDataSourceStreamReader): a deterministic replay stream whose
    # rows are pure integer arithmetic of the offset — so a batch SQL
    # oracle reproduces the ENTIRE drained stream bit-for-bit, hash-
    # checking the streaming-source plumbing (offsets, micro-batching,
    # recovery reads) end to end. Completes the connector surface: x114
    # is the batch custom source, this is the streaming one.
    from dirty_js_etl_spark.sources.pyds import register_tick_replay

    register_tick_replay(spark)
    name = f"tick_replay_{next(_STREAM_COUNTER)}"
    df = (
        spark.readStream.format("tick_replay")
        .option("n_total", "1000")
        .option("batch_size", "250")
        .load()
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount").alias("total"),
        )
    )
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@register(
    "x185_cdc_column_diff",
    f"""
WITH b AS ({_X174_B_SQL})
SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
       CASE WHEN b.c_custkey IS NULL THEN 'D'
            WHEN a.c_custkey IS NULL THEN 'I'
            ELSE 'U' END AS change_type,
       CASE WHEN a.c_custkey IS NULL OR b.c_custkey IS NULL THEN ''
            ELSE array_to_string(list_filter([
              CASE WHEN a.c_name IS DISTINCT FROM b.c_name THEN 'c_name' END,
              CASE WHEN a.c_nationkey IS DISTINCT FROM b.c_nationkey THEN 'c_nationkey' END,
              CASE WHEN a.c_acctbal IS DISTINCT FROM b.c_acctbal THEN 'c_acctbal' END,
              CASE WHEN a.c_mktsegment IS DISTINCT FROM b.c_mktsegment THEN 'c_mktsegment' END
            ], x -> x IS NOT NULL), ',') END AS changed_cols
FROM customer a FULL JOIN b ON a.c_custkey = b.c_custkey
WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
   OR a.c_name IS DISTINCT FROM b.c_name
   OR a.c_nationkey IS DISTINCT FROM b.c_nationkey
   OR a.c_acctbal IS DISTINCT FROM b.c_acctbal
   OR a.c_mktsegment IS DISTINCT FROM b.c_mktsegment
""",
)
def x185_cdc_column_diff(spark, sf_dir):
    # COLUMN-level CDC: x67/x174 say WHICH keys changed; downstream
    # incremental consumers (per-column lineage, selective reprocessing,
    # audit trails) need WHICH COLUMNS. One full-outer key join; the
    # changed-column list is a map-side filtered literal array in fixed
    # column order (deterministic, engine-portable string). Same
    # deterministic replica-B derivation as x174.
    a = _cat(spark, sf_dir).read("customer")
    modified = F.when(
        F.col("c_custkey") % 97 == 3, F.lit("DIVERGED")
    ).otherwise(F.col("c_mktsegment"))
    b = (
        a.filter(F.col("c_custkey") % 101 != 7)
        .withColumn("c_mktsegment", modified)
        .unionByName(
            a.filter(F.col("c_custkey") % 103 == 5).withColumn(
                "c_custkey", F.col("c_custkey") + 1000000
            )
        )
    )
    cols = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    al, bl = a.alias("a"), b.alias("b")
    j = al.join(bl, F.col("a.c_custkey") == F.col("b.c_custkey"), "full")
    diff_any = None
    marks = []
    for c in cols:
        ne = ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        marks.append(F.when(ne, F.lit(c)))
        diff_any = ne if diff_any is None else (diff_any | ne)
    only_a = F.col("b.c_custkey").isNull()
    only_b = F.col("a.c_custkey").isNull()
    return (
        j.filter(only_a | only_b | diff_any)
        .select(
            F.coalesce(F.col("a.c_custkey"), F.col("b.c_custkey")).alias(
                "c_custkey"
            ),
            F.when(only_a, F.lit("D"))
            .when(only_b, F.lit("I"))
            .otherwise(F.lit("U"))
            .alias("change_type"),
            F.when(only_a | only_b, F.lit("")).otherwise(
                F.array_join(
                    F.filter(F.array(*marks), lambda x: x.isNotNull()), ","
                )
            ).alias("changed_cols"),
        )
    )


@register(
    "x186_conversion_latency",
    """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), views AS (
  SELECT user_id, ts FROM events WHERE event_type = 'view'
), lat AS (
  SELECT p.user_id,
         epoch_us(p.ts) - epoch_us(v.v_ts) AS wait_us
  FROM purchases p JOIN LATERAL (
    SELECT ts AS v_ts FROM views v
    WHERE v.user_id = p.user_id AND v.ts <= p.ts
    ORDER BY v.ts DESC LIMIT 1
  ) v ON TRUE
)
SELECT CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(trunc(quantile_cont(wait_us, 0.5)) AS BIGINT) AS p50_wait_us,
       CAST(trunc(quantile_cont(wait_us, 0.9)) AS BIGINT) AS p90_wait_us
FROM lat
""",
)
def x186_conversion_latency(spark, sf_dir):
    # Funnel TIMING (x63 counts conversions; this measures them): per
    # purchase, the wait since the user's most recent prior view via
    # the union+window as-of (one key shuffle — no per-pair LATERAL
    # explosion, which is how the oracle spells it), then exact wait
    # percentiles. Ties: views and purchases at the same instant count
    # as converted-at-zero, matching the oracle's v.ts <= p.ts.
    from dirty_js_etl_spark.operators.asof import asof_join

    ev = _cat(spark, sf_dir).read("events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts"), F.col("ts").alias("v_ts")
    )
    matched = asof_join(
        purchases,
        views,
        on="user_id",
        left_time="ts",
        right_time="ts",
        payload_cols=["v_ts"],
    ).filter(F.col("v_ts").isNotNull())
    lat = matched.select(
        "user_id",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("v_ts").cast("timestamp"))).alias("wait_us"),
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.count_distinct("user_id").alias("n_users"),
        F.expr("CAST(percentile(wait_us, 0.5) AS BIGINT)").alias("p50_wait_us"),
        F.expr("CAST(percentile(wait_us, 0.9) AS BIGINT)").alias("p90_wait_us"),
    )


@register(
    "x187_mixture_budget",
    r"""
WITH t AS (
  SELECT lang, source,
         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n_tok
  FROM documents
), per AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM t GROUP BY lang, source
), tot AS (
  SELECT lang, sum(n_tokens) AS lang_tokens FROM per GROUP BY lang
)
SELECT p.lang, p.source, p.n_docs, p.n_tokens,
       CAST(p.n_tokens * 10000 // t.lang_tokens AS BIGINT) AS share_bps
FROM per p JOIN tot t USING (lang)
""",
)
def x187_mixture_budget(spark, sf_dir):
    # Mixture-planning report: token budget per (lang, source) with
    # each source's integer-bps share of its language's tokens — the
    # accounting table a data-mixture config (x96's rates, x120's
    # shards) is derived from. Two grouped aggregations share the
    # (lang, source) shuffle; the per-lang totals re-attach as a
    # reduced broadcast join; all integer-exact.
    from dirty_js_etl_spark.operators.text import token_count

    docs = _cat(spark, sf_dir).read("documents")
    per = docs.select(
        "lang", "source", token_count(F.col("text")).alias("n_tok")
    ).groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    tot = per.groupBy("lang").agg(F.sum("n_tokens").alias("lang_tokens"))
    return per.join(F.broadcast(tot), "lang").select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.expr("CAST(n_tokens * 10000 DIV lang_tokens AS BIGINT)").alias(
            "share_bps"
        ),
    )


