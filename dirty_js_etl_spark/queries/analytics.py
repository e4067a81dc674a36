"""Analytics queries: the SURVEY.md §2.3 category checklist.

The reference has no windows, sorts/top-k, set ops, date/math functions,
pivots, percentiles or cubes; Spark provides them natively, so most
queries here call no engine operator and exist so that each category is
oracle-checked. The rest each run one small operator: ranking
(``operators/ranking.py``), splits, hierarchy, reconcile, expectations
and skew.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries._shared import (
    _DEC,
    _NORM_SQL,
    _cat,
    _disc_price,
    register,
)


@register(
    "x22_topn_orders",
    "SELECT o_orderkey AS okey, o_totalprice AS price FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
)
def x22_topn_orders(spark, sf_dir):
    # sorts/limits/top-k row: orderBy+limit plans as TakeOrdered (per-
    # partition partial top-k, no full sort shuffle)
    orders = _cat(spark, sf_dir).read("orders")
    return (
        orders.select(
            F.col("o_orderkey").alias("okey"), F.col("o_totalprice").alias("price")
        )
        .orderBy(F.col("price").desc(), F.col("okey"))
        .limit(100)
    )


@register(
    "x23_set_ops",
    """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
UNION
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
""",
)
def x23_set_ops(spark, sf_dir):
    cat = _cat(spark, sf_dir)
    c, o = cat.read("customer"), cat.read("orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    open_orders = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    negative = c.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("custkey")
    )
    big = o.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    # SQL set-op precedence: INTERSECT binds tighter; UNION/EXCEPT fold
    # left-to-right — mirrored explicitly here
    return building.intersect(open_orders).union(negative).distinct().exceptAll(
        big.distinct()
    )


@register(
    "x24_window_functions",
    """
SELECT o_custkey AS custkey, o_orderkey AS okey, o_totalprice AS price,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(rank() OVER w2 AS BIGINT) AS rnk,
       lag(o_totalprice) OVER w AS prev_price,
       round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderkey
         ROWS UNBOUNDED PRECEDING)::DOUBLE, 2) AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
       w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""",
)
def x24_window_functions(spark, sf_dir):
    from pyspark.sql import Window

    orders = _cat(spark, sf_dir).read("orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    w2 = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").alias("price"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w2).cast("long").alias("rnk"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(running)
            .cast("double"),
            2,
        ).alias("running_total"),
    )


@register(
    "x25_date_functions",
    """
SELECT o_orderkey AS okey,
       CAST(year(o_orderdate) AS INT) AS y,
       CAST(month(o_orderdate) AS INT) AS m,
       CAST(dayofweek(o_orderdate) AS INT) AS dow,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due,
       datediff('day', DATE '1995-01-01', o_orderdate) AS days_since
FROM orders
""",
)
def x25_date_functions(spark, sf_dir):
    orders = _cat(spark, sf_dir).read("orders")
    return orders.select(
        F.col("o_orderkey").alias("okey"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        # timestamp-typed on both sides: DATE round-trips differently
        # through pandas (datetime64 vs date object)
        F.date_add(F.col("o_orderdate"), 30).cast("timestamp").alias("due"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
    )


@register(
    "x26_math_functions",
    """
SELECT l_orderkey AS okey, l_linenumber AS line,
       CAST(round(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS net,
       sqrt(l_quantity) AS sq,
       CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct,
       abs(l_quantity - 25) AS dist25,
       round(ln(l_extendedprice), 6) AS log_price,
       pmodemu AS qty_mod_7
FROM (SELECT *, CAST(l_quantity AS BIGINT) % 7 AS pmodemu FROM lineitem)
""",
)
def x26_math_functions(spark, sf_dir):
    li = _cat(spark, sf_dir).read("lineitem")
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("line"),
        # decimal arithmetic: double rounding at the .xx5 boundary differs
        # between engines; exact decimals round identically
        F.round(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(18,2)")),
            2,
        )
        .cast("double")
        .alias("net"),
        # raw sqrt: IEEE-754 sqrt is correctly rounded on both
        # engines and l_quantity is integral -- bit-identical, no
        # decimal re-round (kmv discipline)
        F.sqrt("l_quantity").alias("sq"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct"),
        F.abs(F.col("l_quantity") - 25).alias("dist25"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("log_price"),
        (F.col("l_quantity").cast("long") % 7).alias("qty_mod_7"),
    )


@register(
    "x30_salted_join",
    "SELECT o.o_orderkey AS okey, c.c_name AS name FROM orders o "
    "JOIN customer c ON o.o_custkey = c.c_custkey",
)
def x30_salted_join(spark, sf_dir):
    # skew-spread join must be value-identical to the plain join — the
    # oracle IS the unsalted SQL
    from dirty_js_etl_spark.operators.skew import salted_join

    cat = _cat(spark, sf_dir)
    orders = cat.read("orders").select(
        F.col("o_orderkey").alias("okey"), F.col("o_custkey").alias("custkey")
    )
    customer = cat.read("customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )
    return salted_join(orders, customer, "custkey", n_salts=8).select(
        "okey", "name"
    )


_X28_SQL = """
SELECT day_start, hour_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM (
  SELECT date_trunc('day', ts) AS day_start,
         date_trunc('hour', ts) AS hour_start, value
  FROM events
) GROUP BY ROLLUP(day_start, hour_start)
"""


@register("x28_hierarchical_rollup", _X28_SQL)
def x28_hierarchical_rollup(spark, sf_dir):
    # hypertable-style multi-resolution continuous aggregate: one
    # ROLLUP pass emits hour, day, and grand-total rows (grouping sets;
    # the reference has no grouping sets at all, SURVEY §2.3). Partial
    # aggregation still applies — the rollup expansion happens pre-
    # shuffle, so it is ONE shuffle for all three resolutions.
    events = _cat(spark, sf_dir).read("events")
    return (
        events.select(
            F.date_trunc("day", F.col("ts")).alias("day_start"),
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "value",
        )
        .rollup("day_start", "hour_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@register(
    "x37_semi_join",
    """
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o.o_orderpriority
""",
)
def x37_semi_join(spark, sf_dir):
    # TPC-H Q4 shape. The correlated EXISTS compares l_shipdate against
    # a function of the OUTER row only (o_orderdate + 60d), so
    # EXISTS(l_shipdate > f(o)) <=> max(l_shipdate) per orderkey > f(o):
    # max ignores NULLs exactly as the EXISTS comparison would. That
    # turns the former left-semi join of the full 2-column lineitem
    # projection into a per-orderkey max PRE-AGGREGATION (map-side
    # combine; ~4x fewer shuffled rows at TPC-H line multiplicity) +
    # a 1:1 inner equi-join, with the date predicate evaluated post-join
    # on one row per orderkey instead of one per line. (r9, replacing
    # the r-early left_semi after the sf1 scale audit flagged 5.4x.)
    cat = _cat(spark, sf_dir)
    orders = cat.read("orders")
    last_ship = (
        cat.read("lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_shipdate"))
    )
    return (
        orders.join(last_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.col("last_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "x38_anti_join",
    """
SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY n.n_name
""",
)
def x38_anti_join(spark, sf_dir):
    # TPC-H Q22 shape: NOT EXISTS -> left_anti join; nation is a
    # broadcast dim so the only shuffle is the anti-join on custkey
    cat = _cat(spark, sf_dir)
    c = cat.read("customer")
    o = cat.read("orders").select("o_custkey")
    n = cat.read("nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_acctbal"),
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "x39_pivot_events",
    "SELECT date_trunc('day', ts) AS day, "
    + ", ".join(
        f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS {t}"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY 1",
)
def x39_pivot_events(spark, sf_dir):
    # long->wide pivot with an explicit value list: fixed output schema,
    # single shuffle (no extra pass to discover pivot values)
    events = _cat(spark, sf_dir).read("events")
    return (
        events.select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_type",
        )
        .groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
    )


@register(
    "x40_group_percentiles",
    """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90,
       round(quantile_cont(l_quantity, 0.99), 6) AS p99,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
)
def x40_group_percentiles(spark, sf_dir):
    # exact linear-interpolation percentiles (matches quantile_cont);
    # the exact form needs the full group -- at 100 TB swap in
    # percentile_approx (x35) whose KLL sketch merges map-side
    li = _cat(spark, sf_dir).read("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(l_quantity, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "x41_hash_split",
    """
WITH b AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 100 AS bucket
  FROM documents
)
SELECT doc_id,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM b
""",
)
def x41_hash_split(spark, sf_dir):
    # deterministic md5-keyed train/val/test split: pure projection (no
    # shuffle, no RNG state), stable across runs/retries/cluster sizes
    # -- unlike randomSplit, whose output depends on partitioning
    from dirty_js_etl_spark.operators.splits import train_val_test_split

    docs = _cat(spark, sf_dir).read("documents")
    return train_val_test_split(docs, "doc_id", (0.8, 0.1, 0.1)).select(
        "doc_id", "split"
    )


@register(
    "x56_scalar_subquery",
    """
SELECT o_orderkey,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST((SELECT avg(o_totalprice) FROM orders) AS DOUBLE) AS global_avg
FROM orders
WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
""",
)
def x56_scalar_subquery(spark, sf_dir):
    # scalar-subquery shape: the global aggregate is a 1-row frame
    # broadcast into the scan filter -- no shuffle of the fact table
    o = _cat(spark, sf_dir).read("orders")
    avg_df = o.agg(F.avg("o_totalprice").alias("global_avg"))
    return (
        o.join(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > 1.5 * F.col("global_avg"))
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("global_avg").cast("double").alias("global_avg"),
        )
    )


@register(
    "x57_label_centroids",
    """
SELECT label, i - 1 AS pos,
       round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
GROUP BY label, i - 1
""",
)
def x57_label_centroids(spark, sf_dir):
    # per-label centroid in long form (label, pos, centroid): posexplode
    # + hash-agg keyed by (label, pos) -- uniform keys, one shuffle; the
    # long form is what a k-means/IVF trainer consumes
    emb = _cat(spark, sf_dir).read("embeddings")
    return (
        emb.select(
            "label", F.posexplode("embedding").alias("pos", "v")
        )
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .select("label", "pos", "centroid", "n_vecs")
    )


@register(
    "x61_moving_avg_range",
    """
SELECT event_id, user_id, ts,
       round(avg(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6) AS mavg_1h
FROM events
""",
)
def x61_moving_avg_range(spark, sf_dir):
    # time-range window frame (RANGE, not ROWS): the trailing-hour mean
    # per user -- per-key window, one hash shuffle on user_id, sort is
    # partition-local; frames are value-ranges so ts gaps are handled.
    # The range key is INTEGER MICROSECONDS on both engines
    # (unix_micros / epoch_us): whole-second keys (unix_timestamp vs
    # DuckDB's fractional epoch()) disagree on frame membership
    # whenever same-user events straddle the boundary inside one
    # second — invisible at sparse sf0.01, real at sf0.1 density.
    from pyspark.sql import Window

    events = _cat(spark, sf_dir).read("events")
    # cast("timestamp") is a no-op on LTZ input and rescues NTZ input
    # (driver sessions without the catalog's conf protections), which
    # once made x61/x139 fail under the driver.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.avg("value").over(w), 6).alias("mavg_1h"),
    )


@register(
    "x63_funnel",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT v.user_id,
       CASE WHEN p.user_id IS NOT NULL THEN 'purchase'
            WHEN c.user_id IS NOT NULL THEN 'click'
            ELSE 'view' END AS funnel_stage,
       v.t_view, c.t_click, p.t_purchase
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
""",
)
def x63_funnel(spark, sf_dir):
    # ordered-funnel analysis (view -> click after view -> purchase
    # after click) in a SINGLE scan and a SINGLE shuffle: three chained
    # conditional mins as window aggregates over the user partition
    # (no ORDER BY -> no per-partition sort), then a same-key groupBy
    # that reuses the window's hash partitioning (no second exchange).
    # Replaces a 3-scan/3-shuffle/2-join formulation that was 3x
    # slower at sf0.1.
    from pyspark.sql import Window

    events = _cat(spark, sf_dir).read("events")
    w = Window.partitionBy("user_id")
    etype, ts = F.col("event_type"), F.col("ts")
    stage1 = events.filter(
        etype.isin("view", "click", "purchase")
    ).withColumn("t_view", F.min(F.when(etype == "view", ts)).over(w))
    stage2 = stage1.withColumn(
        "t_click",
        F.min(
            F.when((etype == "click") & (ts > F.col("t_view")), ts)
        ).over(w),
    )
    stage3 = stage2.withColumn(
        "t_purchase",
        F.min(
            F.when((etype == "purchase") & (ts > F.col("t_click")), ts)
        ).over(w),
    )
    return (
        stage3.filter(F.col("t_view").isNotNull())
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_click").alias("t_click"),
            F.first("t_purchase").alias("t_purchase"),
        )
        .select(
            "user_id",
            F.when(F.col("t_purchase").isNotNull(), "purchase")
            .when(F.col("t_click").isNotNull(), "click")
            .otherwise("view")
            .alias("funnel_stage"),
            "t_view",
            "t_click",
            "t_purchase",
        )
    )


@register(
    "x65_cube_agg",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def x65_cube_agg(spark, sf_dir):
    # CUBE: all 4 grouping combinations in ONE shuffle (Expand feeds a
    # single hash-agg) -- the multi-dimensional report shape
    o = _cat(spark, sf_dir).read("orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


@register(
    "x66_ntile_deciles",
    """
SELECT c_custkey,
       CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS decile
FROM customer
""",
)
def x66_ntile_deciles(spark, sf_dir):
    # decile bucketing; deterministic via the (acctbal, custkey) total
    # order.  Distributed ntile (operators/ranking.py): range-partition
    # on the order key, local row numbers, tiny per-partition offset
    # broadcast -- exact SQL ntile semantics with NO single-partition
    # window sort, so the same plan holds at 100 TB.
    from dirty_js_etl_spark.operators.ranking import with_global_ntile

    c = _cat(spark, sf_dir).read("customer")
    return with_global_ntile(
        c.select("c_custkey", "c_acctbal"),
        ["c_acctbal", "c_custkey"],
        10,
        "decile",
    ).select("c_custkey", "decile")


@register(
    "x67_snapshot_diff",
    """
WITH old AS (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 10 <> 3
), new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN 'SHIFTED' ELSE c_mktsegment END
           AS c_mktsegment
  FROM customer WHERE c_custkey % 10 <> 4
)
SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'INSERT'
            WHEN n.c_custkey IS NULL THEN 'DELETE'
            ELSE 'UPDATE' END AS change
FROM old o FULL JOIN new n ON o.c_custkey = n.c_custkey
WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
   OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
""",
)
def x67_snapshot_diff(spark, sf_dir):
    # CDC between two table snapshots: one full-outer co-partitioned
    # join on the key; emits only INSERT/DELETE/UPDATE rows (the T6
    # audit stream generalized to snapshot pairs)
    c = _cat(spark, sf_dir).read("customer")
    old = c.filter(F.col("c_custkey") % 10 != 3).select(
        "c_custkey", "c_mktsegment"
    )
    new = c.filter(F.col("c_custkey") % 10 != 4).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, "SHIFTED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    o, n = old.alias("o"), new.alias("n")
    return (
        o.join(n, F.col("o.c_custkey") == F.col("n.c_custkey"), "full_outer")
        .filter(
            F.col("o.c_custkey").isNull()
            | F.col("n.c_custkey").isNull()
            | ~F.col("o.c_mktsegment").eqNullSafe(F.col("n.c_mktsegment"))
        )
        .select(
            F.coalesce("o.c_custkey", "n.c_custkey").alias("c_custkey"),
            F.when(F.col("o.c_custkey").isNull(), "INSERT")
            .when(F.col("n.c_custkey").isNull(), "DELETE")
            .otherwise("UPDATE")
            .alias("change"),
        )
    )


@register(
    "x68_integrity_audit",
    """
SELECT 'lineitem.l_orderkey->orders' AS fk,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT 'orders.o_custkey->customer',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'customer.c_nationkey->nation',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
""",
)
def x68_integrity_audit(spark, sf_dir):
    # referential-integrity audit (the check the reference's FK lookups
    # silently skip -- unmatched lookups emit NULL, mappr.js:283-307):
    # orphan counts per declared FK edge; each edge is one left join
    # where the parent side broadcasts when dimension-sized
    cat = _cat(spark, sf_dir)

    def edge(child, ckey, parent, pkey, label, broadcast_parent):
        p = cat.read(parent).select(pkey)
        if broadcast_parent:
            p = F.broadcast(p)
        return (
            cat.read(child)
            .select(ckey)
            .join(p, F.col(ckey) == F.col(pkey), "left")
            .agg(
                F.lit(label).alias("fk"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col(pkey).isNull().cast("long")).alias("n_orphans"),
            )
            .select("fk", "n_rows", "n_orphans")
        )

    return (
        edge("lineitem", "l_orderkey", "orders", "o_orderkey",
             "lineitem.l_orderkey->orders", False)
        .unionAll(
            # customer scales with the data — no forced hint (AQE /
            # static size decides); only the fixed-size nation dim is
            edge("orders", "o_custkey", "customer", "c_custkey",
                 "orders.o_custkey->customer", False)
        )
        .unionAll(
            edge("customer", "c_nationkey", "nation", "n_nationkey",
                 "customer.c_nationkey->nation", True)
        )
    )


@register(
    "x69_histogram",
    """
WITH b AS (
  SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo,
         CAST(max(o_totalprice) AS DOUBLE) AS hi
  FROM orders
)
SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20.0)), 19) AS INT)
         AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM orders, b
GROUP BY 1
""",
)
def x69_histogram(spark, sf_dir):
    # equal-width histogram: the (min, max) scalar pair broadcasts, the
    # binning is a codegen projection, one hash-agg on the bin id
    o = _cat(spark, sf_dir).read("orders")
    bounds = o.agg(
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
    )
    width = (F.col("hi") - F.col("lo")) / 20.0
    return (
        o.join(F.broadcast(bounds))
        .select(
            F.least(
                F.floor((F.col("o_totalprice") - F.col("lo")) / width),
                F.lit(19),
            )
            .cast("int")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "x70_corr_cov",
    """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_cov,
       round(stddev_samp(l_quantity), 6) AS qty_std
FROM lineitem GROUP BY l_returnflag
""",
)
def x70_corr_cov(spark, sf_dir):
    # statistical aggregates (corr / covariance / stddev): single-pass
    # partial+final moments, one shuffle keyed by group
    li = _cat(spark, sf_dir).read("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias(
            "qty_disc_cov"
        ),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_std"),
    )


@register(
    "x71_argmax_per_group",
    """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
  FROM orders
)
SELECT o_custkey AS custkey, o_orderkey AS top_orderkey,
       CAST(o_totalprice AS DOUBLE) AS top_price
FROM ranked WHERE rn = 1
""",
)
def x71_argmax_per_group(spark, sf_dir):
    # argmax without a window: max_by over a (price, key) struct is a
    # plain aggregation -- map-side partial argmax, no per-group sort;
    # strictly cheaper than row_number at scale
    o = _cat(spark, sf_dir).read("orders")
    best = F.max_by(
        F.struct("o_orderkey", "o_totalprice"),
        F.struct("o_totalprice", "o_orderkey"),
    )
    return o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        best.getField("o_orderkey").alias("top_orderkey"),
        best.getField("o_totalprice").cast("double").alias("top_price"),
    )


@register(
    "x73_part_cooccurrence",
    """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS n_orders
FROM op a JOIN op b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 2
""",
)
def x73_part_cooccurrence(spark, sf_dir):
    # market-basket pair mining: which parts ship together in >= 2
    # orders.  Self-join on l_orderkey is co-partitioned -- both sides
    # hash to the same exchange, so Spark shuffles the deduped
    # (order, part) projection once and joins partition-locally; the
    # pair blow-up is bounded per order (lines-per-order choose 2),
    # never global.
    li = _cat(spark, sf_dir).read("lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    pairs = op.alias("a").join(
        op.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    )
    return (
        pairs.groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@register(
    "x74_new_vs_returning",
    """
WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1)
SELECT e.event_type,
       CASE WHEN CAST(e.ts AS DATE) = CAST(f.first_ts AS DATE)
            THEN 'new' ELSE 'returning' END AS cohort,
       CAST(count(*) AS BIGINT) AS n
FROM events e JOIN f ON e.user_id = f.user_id
GROUP BY 1, 2
""",
)
def x74_new_vs_returning(spark, sf_dir):
    # cohort split: events on the user's first-seen day are 'new'.
    # first_ts is a per-user WINDOW min -- one shuffle on user_id and no
    # join at all.  The previous agg + broadcast-join spelling forced a
    # |users|-scale relation through a broadcast, which outgrows executor
    # memory at 100 TB; the window needs nothing resident.
    from pyspark.sql import Window

    ev = _cat(spark, sf_dir).read("events")
    first_ts = F.min("ts").over(Window.partitionBy("user_id"))
    return (
        ev.select(
            "event_type",
            F.when(F.to_date("ts") == F.to_date(first_ts), "new")
            .otherwise("returning")
            .alias("cohort"),
        )
        .groupBy("event_type", "cohort")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "x76_hopping_window",
    """
SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes'
         AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS k) ks
GROUP BY 1
""",
)
def x76_hopping_window(spark, sf_dir):
    # hopping (sliding) time windows via F.window(60m width, 30m slide):
    # each event lands in exactly width/slide = 2 windows.  Spark expands
    # the assignment as a generator projection (no self-union of the
    # scan) and the agg is one shuffle keyed by window start; identical
    # code runs under readStream with a watermark.  Epoch-aligned on
    # both engines, so the oracle reconstructs the same grid with
    # time_bucket minus k*slide.
    ev = _cat(spark, sf_dir).read("events")
    return (
        ev.groupBy(F.window("ts", "60 minutes", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events", "n_users"
        )
    )


@register(
    "x77_retention_matrix",
    """
WITH f AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS d0 FROM events GROUP BY 1
), a AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
)
SELECT CAST(f.d0 AS VARCHAR) AS cohort_day,
       CAST(date_diff('day', f.d0, a.d) AS INT) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM a JOIN f ON a.user_id = f.user_id
WHERE date_diff('day', f.d0, a.d) <= 7
GROUP BY 1, 2
""",
)
def x77_retention_matrix(spark, sf_dir):
    # D0..D7 cohort retention: users first seen on cohort_day who were
    # active again day_offset days later.  d0 rides along as a per-user
    # WINDOW min before the (user, day) distinct -- one user_id shuffle
    # feeds both, and there is NO join: the previous agg +
    # broadcast-join plan shipped a |users|-scale relation through a
    # broadcast, a 100 TB scale bug.  d0 is functionally dependent on
    # user_id, so carrying it through the distinct changes nothing.
    from pyspark.sql import Window

    ev = _cat(spark, sf_dir).read("events")
    d0 = F.to_date(F.min("ts").over(Window.partitionBy("user_id")))
    active = ev.select(
        "user_id", F.to_date("ts").alias("d"), d0.alias("d0")
    ).distinct()
    off = F.datediff("d", "d0")
    return (
        active.filter(off <= 7)
        .groupBy(
            F.col("d0").cast("string").alias("cohort_day"),
            off.cast("int").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "x78_filtered_agg",
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
         AS n_finished,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
              FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_value
FROM orders
GROUP BY 1
""",
)
def x78_filtered_agg(spark, sf_dir):
    # conditional aggregation (SQL FILTER clause): one scan, one
    # hash-agg -- each conditional is a when() inside the partial agg,
    # never a second pass or a self-join per condition.
    o = _cat(spark, sf_dir).read("orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias(
            "n_finished"
        ),
        F.sum(F.when(F.col("o_orderstatus") == "O", dec))
        .cast("double")
        .alias("open_value"),
    )


@register(
    "x79_distribution_ranks",
    """
WITH r AS (
  SELECT c_mktsegment, c_acctbal,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
)
SELECT c_mktsegment,
       round(max(CASE WHEN cd <= 0.5 THEN c_acctbal END), 2) AS p50_floor,
       max(pr) AS max_pr,
       CAST(count(*) AS BIGINT) AS n
FROM r GROUP BY 1
""",
)
def x79_distribution_ranks(spark, sf_dir):
    # distribution analytics: percent_rank + cume_dist over the segment
    # partition, reduced to a per-segment profile.  One shuffle keyed by
    # segment serves the window sort AND the final agg; the rank pass is
    # per-partition, never a global sort.
    from pyspark.sql import Window

    c = _cat(spark, sf_dir).read("customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    r = c.select(
        "c_mktsegment",
        "c_acctbal",
        # raw rank ratios ((rank-1)/(n-1), ints) -- bit-identical on
        # both engines; no decimal re-round (kmv discipline)
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return r.groupBy("c_mktsegment").agg(
        F.round(
            F.max(F.when(F.col("cd") <= 0.5, F.col("c_acctbal"))), 2
        ).alias("p50_floor"),
        F.max("pr").alias("max_pr"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "x81_regression_per_group",
    """
WITH e AS (
  SELECT event_type, value,
         CAST(epoch(ts) - 1704067200 AS DOUBLE) AS x
  FROM events
)
SELECT event_type,
       round(regr_slope(value, x), 4) + 0.0 AS slope,
       round(regr_intercept(value, x), 4) + 0.0 AS intercept,
       round(regr_r2(value, x), 4) + 0.0 AS r2,
       CAST(regr_count(value, x) AS BIGINT) AS n
FROM e GROUP BY 1
""",
)
def x81_regression_per_group(spark, sf_dir):
    # per-group OLS trend (value over time) with the built-in regr_*
    # aggregates: single-pass partial+final moment accumulation, one
    # shuffle keyed by group -- the distributed form of a fit that is
    # usually mis-written as a per-group collect
    # x is centered on 2024-01-01 so the intercept sits at data scale --
    # raw epoch seconds (~1.7e9) make slope/intercept catastrophically
    # cancellation-prone and engine-order-dependent past ~3 decimals
    ev = _cat(spark, sf_dir).read("events")
    x = (F.unix_timestamp("ts") - F.lit(1704067200)).cast("double")
    y = F.col("value")
    # + 0.0 normalizes IEEE negative zero (round can yield -0.0 on one
    # engine and +0.0 on the other, which hash differently)
    return ev.groupBy("event_type").agg(
        (F.round(F.regr_slope(y, x), 4) + 0.0).alias("slope"),
        (F.round(F.regr_intercept(y, x), 4) + 0.0).alias("intercept"),
        (F.round(F.regr_r2(y, x), 4) + 0.0).alias("r2"),
        F.regr_count(y, x).alias("n"),
    )


@register(
    "x84_embedding_quantize",
    """
WITH mx AS (
  SELECT vec_id, embedding,
         greatest(list_max(list_transform(embedding, v -> abs(v))), 1e-12)
           AS amax
  FROM embeddings
)
SELECT vec_id, CAST(i - 1 AS INT) AS pos,
       CAST(trunc(CAST(embedding[i] AS DOUBLE) * 127.0 / amax) AS INT)
         AS q
FROM mx, UNNEST(generate_series(1, len(embedding))) AS s(i)
""",
)
def x84_embedding_quantize(spark, sf_dir):
    # symmetric int8 quantization of embeddings (q = trunc(v * 127 /
    # max|v|)), emitted long-form for the oracle.  Per-vector scale is
    # an array fold (F.aggregate) and the expansion is posexplode --
    # a pure map-only stage, no shuffle anywhere; at 100 TB this is
    # the canonical pre-ANN compression pass (4x smaller index).
    # trunc (not round) pins the tie-break identically on both engines.
    emb = _cat(spark, sf_dir).read("embeddings")
    amax = F.greatest(
        F.aggregate(
            F.transform("embedding", lambda v: F.abs(v)),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, v),
        ),
        F.lit(1e-12),
    )
    return emb.withColumn("amax", amax).select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "v"),
        "amax",
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        (F.col("v") * 127.0 / F.col("amax"))
        .cast("double")
        .alias("__x"),
    ).select(
        "vec_id",
        "pos",
        # Spark's double->int cast truncates toward zero; the oracle
        # spells CAST(trunc(x) AS INT) to pin DuckDB to the same rule
        F.col("__x").cast("int").alias("q"),
    )


@register(
    "x86_zscore_anomalies",
    """
WITH stats AS (
  SELECT event_type,
         avg(value) AS mu,
         stddev_samp(value) AS sigma
  FROM events GROUP BY 1
)
SELECT e.event_type,
       CAST(e.ts AS VARCHAR)[:10] AS day,
       CAST(count(*) AS BIGINT) AS n_anomalies
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE abs((e.value - s.mu) / sigma) > 3
GROUP BY 1, 2
""",
)
def x86_zscore_anomalies(spark, sf_dir):
    # z-score outlier detection: per-type (mu, sigma) is a tiny agg
    # (|event types| rows) that broadcasts back onto the stream; the
    # anomaly test is a codegen projection and the daily rollup is the
    # only data shuffle.  The |z|>3 cut compares ratios, not rounded
    # values, so no cross-engine float drift can flip membership except
    # exactly at the boundary (measure-zero).
    ev = _cat(spark, sf_dir).read("events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(
            F.abs((F.col("value") - F.col("mu")) / F.col("sigma")) > 3
        )
        .groupBy(
            "event_type",
            F.substring(F.col("ts").cast("string"), 1, 10).alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n_anomalies"))
    )


@register(
    "x87_string_agg",
    """
SELECT c_nationkey,
       string_agg(c_name, ',' ORDER BY c_name) AS vip_names,
       CAST(count(*) AS BIGINT) AS n_vips
FROM customer
WHERE c_acctbal > 9000
GROUP BY 1
""",
)
def x87_string_agg(spark, sf_dir):
    # ordered string aggregation (LISTAGG): collect_list shuffles only
    # the filtered VIP rows; the sort is per-group over an in-memory
    # array (bounded by group size), not a global ORDER BY.  At 100 TB
    # the guard is the filter's selectivity -- an unfiltered listagg of
    # a whale group is an anti-pattern regardless of engine.
    c = _cat(spark, sf_dir).read("customer")
    return (
        c.filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("c_name")), ","
            ).alias("vip_names"),
            F.count(F.lit(1)).alias("n_vips"),
        )
    )


@register(
    "x88_unpivot_melt",
    """
SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val
FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE)
FROM part
""",
)
def x88_unpivot_melt(spark, sf_dir):
    # wide -> long melt via native UNPIVOT (Expand node): ONE scan
    # emits both measure rows -- the oracle's UNION ALL spelling would
    # scan the table once per measure.  Map-only, no shuffle; the
    # inverse of the pivot operator.
    p = _cat(spark, sf_dir).read("part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@register(
    "x91_time_weighted_avg",
    """
WITH d AS (
  SELECT user_id, value,
         date_diff('second', ts,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)) AS dur
  FROM events
), f AS (SELECT * FROM d WHERE dur IS NOT NULL)
SELECT user_id,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,6)) * dur) AS DOUBLE)
                  / sum(dur) + 0.0 AS DOUBLE) AS tw_avg,
       CAST(sum(dur) AS BIGINT) AS active_seconds
FROM f GROUP BY user_id HAVING sum(dur) > 0
""",
)
def x91_time_weighted_avg(spark, sf_dir):
    # Time-weighted average of a gauge: each reading is held until the
    # next one, weight = hold duration (whole seconds, floor on both
    # engines).  value routes through DECIMAL(18,6) so the weighted
    # sum is exact/associative regardless of partition order; one
    # window pass + one aggregate share the user_id shuffle.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _cat(spark, sf_dir).read("events")
    d = ev.withColumn(
        "dur",
        F.lead(F.unix_timestamp(F.col("ts").cast("timestamp"))).over(w)
        - F.unix_timestamp(F.col("ts").cast("timestamp")),
    ).filter(F.col("dur").isNotNull())
    return (
        d.groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)") * F.col("dur")).alias("wsum"),
            F.sum("dur").alias("tsec"),
        )
        .filter(F.col("tsec") > 0)
        .select(
            "user_id",
            # raw division of an exact decimal sum by an integer sum --
            # bit-identical on both engines, no decimal re-round (kmv
            # discipline)
            (
                F.col("wsum").cast("double") / F.col("tsec") + F.lit(0.0)
            ).alias("tw_avg"),
            F.col("tsec").cast("bigint").alias("active_seconds"),
        )
    )


@register(
    "x92_mode_per_group",
    """
WITH c AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY 1, 2
), r AS (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type) AS rn
  FROM c
)
SELECT user_id, event_type AS modal_type, CAST(cnt AS BIGINT) AS modal_cnt
FROM r WHERE rn = 1
""",
)
def x92_mode_per_group(spark, sf_dir):
    # Per-group mode with a deterministic tie-break (highest count,
    # then lexicographically smallest value): count-then-min_by over a
    # (-cnt, value) struct -- two hash aggregates that REUSE one
    # user_id-compatible partitioning, no window sort at all (compare
    # the oracle's row_number spelling, which sorts every group).
    ev = _cat(spark, sf_dir).read("events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    key = F.struct((-F.col("cnt")).alias("neg"), F.col("event_type").alias("et"))
    return counts.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("modal_type"),
        F.max("cnt").alias("modal_cnt"),
    )


@register(
    "x93_winsorized_mean",
    """
WITH b AS (
  SELECT round(quantile_cont(l_extendedprice, 0.01), 6) AS lo,
         round(quantile_cont(l_extendedprice, 0.99), 6) AS hi
  FROM lineitem
)
SELECT l_returnflag,
       CAST(CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi)
                                AS DECIMAL(18,6))) AS DOUBLE)
                  / count(*) + 0.0 AS DOUBLE) AS wins_mean,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem, b
GROUP BY l_returnflag
""",
)
def x93_winsorized_mean(spark, sf_dir):
    # Winsorized (outlier-clipped) mean: clip to global [p01, p99] and
    # average per group.  The bounds are a 2-value broadcast (scalar agg
    # -> crossJoin), ROUNDED to 6 dp before clipping so both engines
    # clip against bit-identical thresholds; clipped values route
    # through DECIMAL so the mean is order-independent.  Exact
    # percentile needs the full column once; at 100 TB swap in
    # percentile_approx whose sketch merges map-side.
    li = _cat(spark, sf_dir).read("lineitem")
    bounds = li.agg(
        F.round(F.expr("percentile(l_extendedprice, 0.01)"), 6).alias("lo"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("hi"),
    )
    clipped = li.crossJoin(F.broadcast(bounds)).withColumn(
        "clipped",
        F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi")).cast(
            "decimal(18,6)"
        ),
    )
    return clipped.groupBy("l_returnflag").agg(
        # raw division of an exact decimal sum by a count -- bit-identical
        # on both engines, no decimal re-round (kmv discipline); the p01/
        # p99 BOUNDS stay rounded (percentile interpolation is noisy)
        (
            F.sum("clipped").cast("double") / F.count(F.lit(1))
            + F.lit(0.0)
        ).alias("wins_mean"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "x96_equalize_mix",
    """
WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
m AS (SELECT min(cnt) AS m FROM c)
SELECT d.doc_id, d.lang
FROM documents d JOIN c USING (lang) CROSS JOIN m
WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      % 10000 * c.cnt < m.m * 10000
""",
)
def x96_equalize_mix(spark, sf_dir):
    # Downsample every language domain to the size of the smallest one
    # (corpus mix equalization).  Data-dependent rates: per-domain
    # counts (one small agg, broadcast back) and the global min; the
    # keep test is PURE INTEGER math -- bucket/10000 < m/cnt spelled
    # as bucket*cnt < m*10000 -- so no float rounding can disagree
    # across engines or partitions.  Like x47 the selection is keyed
    # on md5(doc_id): stable under retries, re-runs, and resharding.
    from dirty_js_etl_spark.operators.splits import hash_bucket

    docs = _cat(spark, sf_dir).read("documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    m = counts.agg(F.min("cnt").alias("m"))
    b = hash_bucket(F.col("doc_id"), 10000).cast("bigint")
    return (
        docs.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(m))
        .filter(b * F.col("cnt") < F.col("m") * 10000)
        .select("doc_id", "lang")
    )


@register(
    "x98_reaggregate_weekly",
    """
WITH daily AS (
  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week_idx,
         CAST(ts AS DATE) AS day,
         count(*) AS cnt,
         sum(CAST(value AS DECIMAL(18,6))) AS sval,
         max(value) AS mval
  FROM events GROUP BY 1, 2
)
SELECT CAST(week_idx AS INT) AS week_idx,
       CAST(sum(cnt) AS BIGINT) AS n_events,
       CAST(sum(sval) AS DOUBLE) AS total_value,
       CAST(round(CAST(sum(sval) AS DOUBLE) / sum(cnt), 6) + 0.0 AS DOUBLE)
         AS avg_value,
       max(mval) AS max_value
FROM daily GROUP BY week_idx
""",
)
def x98_reaggregate_weekly(spark, sf_dir):
    # Incremental-aggregation pattern: a DAILY partial-state rollup
    # (count, decimal sum, max -- all reaggregable) is the stored
    # artifact; the weekly answer re-aggregates the tiny daily state
    # instead of rescanning raw events.  At 100 TB/day this is how
    # dashboards stay O(days) not O(rows): sums of sums and maxes of
    # maxes are exact, and avg is derived from (sum, count) state at
    # the final level -- never averaged across levels.  The oracle
    # computes the same two-level plan from raw, proving the
    # decomposition exact (decimal state => order-independent).
    ev = _cat(spark, sf_dir).read("events")
    daily = ev.groupBy(
        (
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            / F.lit(7)
        )
        .cast("int")
        .alias("week_idx"),
        F.col("ts").cast("date").alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sval"),
        F.max("value").alias("mval"),
    )
    return daily.groupBy("week_idx").agg(
        F.sum("cnt").alias("n_events"),
        F.sum("sval").cast("double").alias("total_value"),
        (
            F.round(F.sum("sval").cast("double") / F.sum("cnt"), 6) + F.lit(0.0)
        ).alias("avg_value"),
        F.max("mval").alias("max_value"),
    )


@register(
    "x99_interarrival_stats",
    """
WITH gaps AS (
  SELECT event_type,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id),
                   ts) AS gap
  FROM events
)
SELECT event_type,
       CAST(count(gap) AS BIGINT) AS n_gaps,
       round(quantile_cont(gap, 0.5), 6) AS p50_gap,
       round(quantile_cont(gap, 0.95), 6) AS p95_gap
FROM gaps WHERE gap IS NOT NULL
GROUP BY event_type
""",
)
def x99_interarrival_stats(spark, sf_dir):
    # Inter-arrival time distribution per event type: one window pass
    # partitioned by (user, type) computes gaps (whole seconds, floor
    # on both engines), then exact percentiles per type.  The window
    # shuffle key (user_id, event_type) is finer than the aggregate
    # key (event_type) -- Spark inserts the second, small shuffle on
    # the already-reduced gap rows; at 100 TB swap percentile for the
    # KLL sketch as in x35.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ev = _cat(spark, sf_dir).read("events")
    gaps = ev.withColumn(
        "gap",
        F.unix_timestamp(F.col("ts").cast("timestamp"))
        - F.lag(F.unix_timestamp(F.col("ts").cast("timestamp"))).over(w),
    ).filter(F.col("gap").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap").alias("n_gaps"),
        F.round(F.expr("percentile(gap, 0.5)"), 6).alias("p50_gap"),
        F.round(F.expr("percentile(gap, 0.95)"), 6).alias("p95_gap"),
    )


@register(
    "x101_union_harmonize",
    """
SELECT doc_id, 'documents' AS provenance, lang,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
UNION ALL
SELECT event_id + 1000000 AS doc_id, 'events' AS provenance,
       CAST(NULL AS VARCHAR) AS lang,
       CAST(length(props) AS BIGINT) AS n_chars
FROM events
""",
)
def x101_union_harmonize(spark, sf_dir):
    # Heterogeneous-corpus merge: two sources with DIFFERENT schemas
    # harmonized by name (missing columns become typed NULLs) plus a
    # provenance tag -- the ingest step of every multi-source training
    # corpus.  unionByName(allowMissingColumns) is a zero-shuffle
    # concatenation: each side stays in its own partitions; Spark
    # just aligns columns.  Contrast positional unionAll, which would
    # silently mis-bind columns here.
    cat = _cat(spark, sf_dir)
    docs = cat.read("documents").select(
        "doc_id",
        F.lit("documents").alias("provenance"),
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
    )
    evs = cat.read("events").select(
        (F.col("event_id") + 1000000).alias("doc_id"),
        F.lit("events").alias("provenance"),
        F.length("props").cast("bigint").alias("n_chars"),
    )
    return docs.unionByName(evs, allowMissingColumns=True)


@register(
    "x102_embedding_norms",
    """
WITH n AS (
  SELECT label,
         round(sqrt(list_sum(list_transform(embedding,
                    e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))), 6) AS nrm
  FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(CAST(sum(CAST(nrm AS DECIMAL(18,9))) AS DOUBLE)
                  / count(*) + 0.0 AS DOUBLE) AS avg_norm,
       min(nrm) AS min_norm,
       max(nrm) AS max_norm
FROM n GROUP BY label
""",
)
def x102_embedding_norms(spark, sf_dir):
    # Per-label L2-norm statistics -- the sanity check before any
    # cosine ANN (unnormalized vectors break inner-product indexes).
    # The norm is a sequential array fold in DOUBLE on both engines
    # (float32 elements are widened BEFORE multiply: float*float would
    # lose bits DuckDB-side), rounded once, then averaged through
    # DECIMAL so partition order can't move the result.  Map-only +
    # one 10-key aggregate: at 100 TB this is scan-bound.
    emb = _cat(spark, sf_dir).read("embeddings")
    nrm = F.round(
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        6,
    )
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            # the INNER per-row round stays (it makes the DECIMAL(18,9)
            # cast exact); these OUTER rounds over the already-rounded,
            # bit-identical norms were pure flake surface -- raw
            # division / min / max (kmv discipline)
            (
                F.sum(F.col("nrm").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1))
                + F.lit(0.0)
            ).alias("avg_norm"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


@register(
    "x103_topk_with_ties",
    """
WITH ranked AS (
  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
         dense_rank() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice DESC) AS rnk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
""",
)
def x103_topk_with_ties(spark, sf_dir):
    # Top-3 order totals per market segment WITH ties (dense_rank, so
    # equal totals share a rank and all qualify) -- the tie-correct
    # variant of x22's TakeOrdered top-N.  customer joins without a
    # forced hint (it scales with the data; size-based planning
    # broadcasts while it fits); the window shuffles orders once on the
    # 5-value segment key.  At
    # 100 TB a 5-partition window would hotspot: pre-aggregate a
    # per-segment threshold via approx quantile first, filter, THEN
    # rank the survivors (same answer, bounded partition).
    cat = _cat(spark, sf_dir)
    from pyspark.sql import Window

    o = cat.read("orders")
    c = cat.read("customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"))
    return (
        j.withColumn("rnk", F.dense_rank().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "x104_skew_diagnostics",
    """
WITH c AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
), t AS (SELECT sum(cnt) AS total FROM c)
SELECT user_id, CAST(cnt AS BIGINT) AS cnt,
       CAST(cnt * 10000 // total AS BIGINT) AS share_bps
FROM c, t
ORDER BY cnt DESC, user_id
LIMIT 10
""",
)
def x104_skew_diagnostics(spark, sf_dir):
    # Join-key skew report: the 10 heaviest keys with their share of
    # total rows in basis points (integer math -- cnt*10000 DIV total
    # -- so both engines agree exactly).  This is the pre-flight check
    # before choosing broadcast/salt/AQE strategies on a new 100 TB
    # input: count per key (map-side combined), 1-row total broadcast,
    # TakeOrdered(10) -- no full sort.
    ev = _cat(spark, sf_dir).read("events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.agg(F.sum("cnt").alias("total"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "user_id",
            "cnt",
            F.expr("CAST(cnt * 10000 DIV total AS BIGINT)").alias("share_bps"),
        )
        .orderBy(F.desc("cnt"), "user_id")
        .limit(10)
    )


@register(
    "x105_dim_flatten",
    """
SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
""",
)
def x105_dim_flatten(spark, sf_dir):
    # Snowflake-to-star dimension flattening: resolve the FK chain
    # customer -> nation -> region into one denormalized dim (the C13
    # ForeignKey lookup generalized to multi-hop).  Both parents
    # broadcast, so the fact-side table never shuffles; run once and
    # persist, then every downstream join is a single broadcast hop.
    cat = _cat(spark, sf_dir)
    c = cat.read("customer")
    n = cat.read("nation")
    r = cat.read("region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


@register(
    "x108_version_retention",
    """
WITH v AS (
  SELECT user_id, value, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id, value, ts AS version_ts, CAST(rn AS INT) AS recency_rank
FROM v WHERE rn <= 2
""",
)
def x108_version_retention(spark, sf_dir):
    # Snapshot retention: keep only the latest N versions per key (the
    # compaction step that bounds SCD/CDC history growth).  One
    # key-partitioned window; at 100 TB this runs per storage
    # partition during compaction, and the rank-desc form never needs
    # a global sort.
    from pyspark.sql import Window

    ev = _cat(spark, sf_dir).read("events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(
            "user_id",
            "value",
            F.col("ts").alias("version_ts"),
            F.col("rn").cast("int").alias("recency_rank"),
        )
    )


@register(
    "x110_groupwise_znorm",
    """
SELECT user_id, event_id,
       CAST(round((value - avg(value) OVER w)
                  / stddev_pop(value) OVER w, 6) + 0.0 AS DOUBLE) AS z
FROM events
WINDOW w AS (PARTITION BY user_id)
""",
)
def x110_groupwise_znorm(spark, sf_dir):
    # Group-wise z-normalization through applyInPandas: each user's
    # events arrive as ONE Arrow batch and a vectorized pandas kernel
    # normalizes them -- the template for custom per-group Python
    # logic Spark expressions can't say (model scoring, per-entity
    # fits).  Cost: one shuffle on the group key + Arrow
    # (de)serialization; groups must fit in executor memory, which
    # per-user event history does at any corpus size.  The built-in
    # window spelling (= the oracle) is preferred when expressible --
    # this query exists to keep the applyInPandas path tested.
    import pandas as pd

    ev = _cat(spark, sf_dir).read("events").select("user_id", "event_id", "value")

    def znorm(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf["value"].std(ddof=0)
        m = pdf["value"].mean()
        z = (pdf["value"] - m) / s if s > 0 else pdf["value"] * 0.0
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "z": (z.round(6) + 0.0),
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        znorm, schema="user_id long, event_id long, z double"
    )


@register(
    "x111_interval_coalesce",
    """
WITH iv AS (
  SELECT user_id,
         CAST(ts AS TIMESTAMP) - INTERVAL 10 MINUTE AS s,
         CAST(ts AS TIMESTAMP) + INTERVAL 10 MINUTE AS e
  FROM events
), flagged AS (
  SELECT user_id, s, e,
         CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)
                OR max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), islands AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island_id
  FROM flagged
), merged AS (
  SELECT user_id, island_id, min(s) AS ms, max(e) AS me
  FROM islands GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(date_diff('second', ms, me)) AS BIGINT) AS covered_seconds
FROM merged GROUP BY user_id
""",
)
def x111_interval_coalesce(spark, sf_dir):
    # Interval coalescing (union of overlapping intervals): each event
    # projects a +/-10-minute influence interval; overlapping ones
    # merge into islands (running-max-end sweep), and the answer is
    # per-user island count + total covered seconds -- EXACT integer
    # seconds, no float anywhere.  Generalizes gap-sessionization to
    # arbitrary, overlapping intervals with one user-keyed shuffle
    # shared by both window passes and both aggregates.
    from pyspark.sql import Window

    ev = _cat(spark, sf_dir).read("events")
    iv = ev.select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 10 MINUTES")).alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max_e = F.max("e").over(w_prev)
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0),
    ).withColumn("island_id", F.sum("new_island").over(w_run))
    merged = flagged.groupBy("user_id", "island_id").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(
            F.unix_timestamp(F.col("me").cast("timestamp"))
            - F.unix_timestamp(F.col("ms").cast("timestamp"))
        ).alias("covered_seconds"),
    )


@register(
    "x112_udtf_chunk",
    f"""
WITH tok AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
)
SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
       array_to_string(toks[(i - 1) * 30 + 1 : (i - 1) * 30 + 30], ' ')
         AS chunk_text,
       CAST(least(30, len(toks) - (i - 1) * 30) AS INT) AS n_tokens
FROM tok, UNNEST(generate_series(1, (len(toks) + 29) // 30)) AS s(i)
""",
)
def x112_udtf_chunk(spark, sf_dir):
    # Python UDTF (Spark 4 table function): one doc row in, N chunk
    # rows out, consumed via LATERAL join -- the API for custom
    # row-GENERATING logic (parsers, tokenizers, samplers) that scalar
    # UDFs can't express.  useArrow=True plans ArrowEvalPythonUDTF
    # (Arrow-batched exchange with the Python worker) instead of
    # row-pickling BatchEvalPython — caught by the registry-wide plan
    # lint (test_plans.py). The preferred scale implementation of this
    # exact transform is still x85's explode/codegen; this keeps the
    # UDTF surface tested on its fast path.
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_id int, chunk_text string, n_tokens int",
        useArrow=True,
    )
    class Chunker:
        def eval(self, text: str):
            toks = " ".join((text or "").lower().strip().split()).split(" ")
            size = 30
            for ci in range((len(toks) + size - 1) // size):
                piece = toks[ci * size : (ci + 1) * size]
                yield ci, " ".join(piece), len(piece)

    spark.udtf.register("chunk_doc", Chunker)
    docs = _cat(spark, sf_dir).read("documents")
    docs.createOrReplaceTempView("__x112_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk_text, c.n_tokens
        FROM __x112_docs d, LATERAL chunk_doc(d.text) c
        """
    )


@register(
    "x113_variant_json",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS DOUBLE)
                  / count(*) + 0.0 AS DOUBLE) AS avg_k
FROM events GROUP BY event_type
""",
)
def x113_variant_json(spark, sf_dir):
    # Semi-structured path via the VARIANT type (Spark 4): parse_json
    # once into a binary variant, then typed variant_get extraction --
    # unlike get_json_object (x11) the parse cost is paid once per row
    # regardless of how many fields are later plucked, and the variant
    # column can be stored/shuffled in its compact binary form.
    # Integer payloads keep the aggregate exact.
    ev = _cat(spark, sf_dir).read("events")
    v = ev.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").cast("bigint").alias("sum_k"),
        # raw integer-sum / count -- bit-identical on both engines,
        # no decimal re-round (kmv discipline)
        (
            F.sum("k").cast("double") / F.count(F.lit(1)) + F.lit(0.0)
        ).alias("avg_k"),
    )


_Z_DUCK = "(((l_partkey % 256) // 1) % 2) * 1 + (((l_suppkey % 256) // 1) % 2) * 2 + (((l_partkey % 256) // 2) % 2) * 4 + (((l_suppkey % 256) // 2) % 2) * 8 + (((l_partkey % 256) // 4) % 2) * 16 + (((l_suppkey % 256) // 4) % 2) * 32 + (((l_partkey % 256) // 8) % 2) * 64 + (((l_suppkey % 256) // 8) % 2) * 128 + (((l_partkey % 256) // 16) % 2) * 256 + (((l_suppkey % 256) // 16) % 2) * 512 + (((l_partkey % 256) // 32) % 2) * 1024 + (((l_suppkey % 256) // 32) % 2) * 2048 + (((l_partkey % 256) // 64) % 2) * 4096 + (((l_suppkey % 256) // 64) % 2) * 8192 + (((l_partkey % 256) // 128) % 2) * 16384 + (((l_suppkey % 256) // 128) % 2) * 32768"


_Z_SPARK = "(((l_partkey % 256) DIV 1) % 2) * 1 + (((l_suppkey % 256) DIV 1) % 2) * 2 + (((l_partkey % 256) DIV 2) % 2) * 4 + (((l_suppkey % 256) DIV 2) % 2) * 8 + (((l_partkey % 256) DIV 4) % 2) * 16 + (((l_suppkey % 256) DIV 4) % 2) * 32 + (((l_partkey % 256) DIV 8) % 2) * 64 + (((l_suppkey % 256) DIV 8) % 2) * 128 + (((l_partkey % 256) DIV 16) % 2) * 256 + (((l_suppkey % 256) DIV 16) % 2) * 512 + (((l_partkey % 256) DIV 32) % 2) * 1024 + (((l_suppkey % 256) DIV 32) % 2) * 2048 + (((l_partkey % 256) DIV 64) % 2) * 4096 + (((l_suppkey % 256) DIV 64) % 2) * 8192 + (((l_partkey % 256) DIV 128) % 2) * 16384 + (((l_suppkey % 256) DIV 128) % 2) * 32768"


@register(
    "x119_zorder_layout",
    f"""
WITH z AS (
  SELECT CAST(({_Z_DUCK}) AS BIGINT) AS zkey FROM lineitem
)
SELECT CAST(zkey // 256 AS BIGINT) AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(zkey) AS BIGINT) AS z_min,
       CAST(max(zkey) AS BIGINT) AS z_max
FROM z GROUP BY 1
""",
)
def x119_zorder_layout(spark, sf_dir):
    # Z-order (Morton) clustering key: interleave the low 8 bits of
    # partkey and suppkey so rows close in BOTH dimensions land close
    # in ONE sort order -- the layout that lets min/max file stats
    # prune 2-D predicates (the OPTIMIZE ZORDER primitive, as pure
    # integer arithmetic, identical in any engine).  The real write
    # path is repartitionByRange(z_bucket).sortWithinPartitions(zkey);
    # this query validates the key math via the per-bucket histogram
    # that would become the file layout.
    li = _cat(spark, sf_dir).read("lineitem")
    z = li.select(F.expr(_Z_SPARK).cast("bigint").alias("zkey"))
    return z.groupBy(
        F.expr("zkey DIV 256").cast("bigint").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("zkey").cast("bigint").alias("z_min"),
        F.max("zkey").cast("bigint").alias("z_max"),
    )


@register(
    "x121_jsonl_export",
    """
SELECT doc_id,
       to_json(struct_pack(doc_id := doc_id, lang := lang,
                           n_chars := n_chars)) AS jsonl
FROM documents
""",
)
def x121_jsonl_export(spark, sf_dir):
    # JSONL corpus export: each row rendered as one compact JSON
    # object (the interchange format of every LLM data pipeline).
    # to_json(struct(...)) is JVM codegen -- byte-identical rendering
    # to DuckDB's struct_pack for integer/string fields -- and the
    # write path is just .write.text() on this column: map-only,
    # no shuffle, trivially parallel.
    docs = _cat(spark, sf_dir).read("documents")
    return docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.col("doc_id"), F.col("lang"), F.col("n_chars")
            )
        ).alias("jsonl"),
    )


@register(
    "x122_try_cast_audit",
    """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(TRY_CAST(substring(source, 4) AS INT)) AS BIGINT)
         AS n_numeric_suffix,
       CAST(count(*) - count(TRY_CAST(lang AS INT)) AS BIGINT)
         AS n_lang_nonnum
FROM documents GROUP BY source
""",
)
def x122_try_cast_audit(spark, sf_dir):
    # Safe-casting data-quality audit: try_cast turns malformed values
    # into NULLs instead of failing the job (this session runs ANSI
    # mode, where a plain CAST on bad input ABORTS the query -- at
    # 100 TB one bad row must not kill a 6-hour job).  count(expr)
    # counts non-NULLs, so each aggregate is a per-column parse
    # success/failure tally in one pass.
    docs = _cat(spark, sf_dir).read("documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.expr("substring(source, 4)").try_cast("int")).alias(
            "n_numeric_suffix"
        ),
        (
            F.count(F.lit(1)) - F.count(F.col("lang").try_cast("int"))
        ).alias("n_lang_nonnum"),
    )


@register(
    "x123_extract_numbers",
    """
WITH m AS (
  SELECT doc_id, regexp_extract_all(text, '[0-9]{1,15}') AS nums
  FROM documents
)
SELECT doc_id,
       CAST(len(nums) AS INT) AS n_numbers,
       CAST(coalesce(list_max(list_transform(nums,
              x -> CAST(x AS BIGINT))), -1) AS BIGINT) AS max_number
FROM m
""",
)
def x123_extract_numbers(spark, sf_dir):
    # Structured extraction: pull every digit run (capped at 15 digits
    # so BIGINT can't overflow under ANSI mode) and reduce per doc --
    # the regexp_extract_all -> transform -> array_max chain is all
    # JVM codegen, no UDF, map-only.  RE2-compatible pattern so
    # external engines tokenize identically (same contract as the PII
    # redactor).
    docs = _cat(spark, sf_dir).read("documents")
    nums = F.regexp_extract_all(F.col("text"), F.lit("[0-9]{1,15}"), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(nums).cast("int").alias("n_numbers"),
        F.coalesce(
            F.array_max(F.transform(nums, lambda x: x.cast("bigint"))),
            F.lit(-1),
        ).cast("bigint").alias("max_number"),
    )


@register(
    "x124_typed_set_agg",
    """
SELECT user_id,
       array_to_string(list_sort(list_distinct(list(event_type))), ',')
         AS event_types,
       CAST(count(DISTINCT event_type) AS INT) AS n_types
FROM events GROUP BY user_id
""",
)
def x124_typed_set_agg(spark, sf_dir):
    # Set-valued aggregation rendered deterministically: collect_set
    # gathers per-key distinct values in ARBITRARY order (partition
    # and scheduling dependent), so the contract for stable output is
    # sort-then-join -- the same discipline any array-producing
    # aggregate needs before hashing, diffing, or exporting.
    ev = _cat(spark, sf_dir).read("events")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(F.collect_set("event_type")), ","
        ).alias("event_types"),
        F.countDistinct("event_type").cast("int").alias("n_types"),
    )


@register(
    "x125_surrogate_keys",
    """
WITH dim AS (
  SELECT c_custkey FROM customer WHERE c_custkey < 100
), mx AS (
  SELECT max(c_custkey) AS max_key FROM dim
), new_members AS (
  SELECT DISTINCT o_custkey
  FROM orders
  WHERE o_custkey NOT IN (SELECT c_custkey FROM dim)
)
SELECT o_custkey AS natural_key,
       max_key + row_number() OVER (ORDER BY o_custkey) AS surrogate_key
FROM new_members, mx
""",
)
def x125_surrogate_keys(spark, sf_dir):
    # Warehouse surrogate-key assignment: natural keys arriving in the
    # fact load but missing from the (stale, custkey<100) dimension get
    # dense new ids continuing from the dimension's current max.  Never monotonically_increasing_id
    # (partition-dependent, non-dense): deterministic order + the
    # distributed row number (operators/ranking.py) + broadcast max --
    # dense, reproducible ids with no single-partition sort even when
    # a backfill makes the "delta" dimension-sized.
    from dirty_js_etl_spark.operators.ranking import with_global_row_number

    cat = _cat(spark, sf_dir)
    c = cat.read("customer").filter(F.col("c_custkey") < 100)
    o = cat.read("orders")
    new_members = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .select("o_custkey")
        .distinct()
    )
    mx = c.agg(F.max("c_custkey").alias("max_key"))
    return (
        with_global_row_number(new_members, ["o_custkey"], "__rn")
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("o_custkey").alias("natural_key"),
            (F.col("max_key") + F.col("__rn")).alias("surrogate_key"),
        )
    )


@register(
    "x126_cogroup_attribution",
    """
WITH e AS (
  SELECT user_id, event_type, ts FROM events
  WHERE event_type IN ('click', 'purchase')
), base AS (
  SELECT user_id,
         count(*) FILTER (WHERE event_type = 'click') AS n_clicks,
         count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
  FROM e GROUP BY user_id
), attr AS (
  SELECT p.user_id, count(*) AS n_attributed
  FROM e p
  WHERE p.event_type = 'purchase' AND EXISTS (
    SELECT 1 FROM e c
    WHERE c.event_type = 'click' AND c.user_id = p.user_id
      AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 2 HOUR)
  GROUP BY p.user_id
)
SELECT b.user_id,
       CAST(b.n_clicks AS BIGINT) AS n_clicks,
       CAST(b.n_purchases AS BIGINT) AS n_purchases,
       CAST(coalesce(a.n_attributed, 0) AS BIGINT) AS n_attributed
FROM base b LEFT JOIN attr a USING (user_id)
""",
)
def x126_cogroup_attribution(spark, sf_dir):
    # COGROUP applyInPandas: clicks and purchases arrive as TWO pandas
    # frames per user key and a numpy kernel (sorted searchsorted)
    # marks purchases with a click in the prior 2 hours -- the API for
    # custom two-sided per-key logic (bipartite matching, custom
    # attribution) that single-input applyInPandas can't see.  One
    # co-partitioned shuffle of both sides; group size is per-user
    # history, bounded at any corpus scale.
    import numpy as np
    import pandas as pd

    ev = _cat(spark, sf_dir).read("events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )

    def attribute(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cts = np.sort(left["ts"].values)
        pts = right["ts"].values
        if len(cts) and len(pts):
            idx = np.searchsorted(cts, pts, side="right")
            prev = np.where(idx > 0, cts[np.maximum(idx - 1, 0)], np.datetime64(0, "us"))
            ok = (idx > 0) & (prev >= pts - np.timedelta64(2, "h"))
            n_attr = int(ok.sum())
        else:
            n_attr = 0
        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_clicks": [len(left)],
                "n_purchases": [len(right)],
                "n_attributed": [n_attr],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            attribute,
            schema="user_id long, n_clicks long, n_purchases long, "
            "n_attributed long",
        )
    )


@register(
    "x127_mapinarrow_cents",
    """
SELECT event_type,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
""",
)
def x127_mapinarrow_cents(spark, sf_dir):
    # mapInArrow: the zero-copy batch hook -- RecordBatches flow
    # straight from Tungsten into pyarrow.compute kernels with no
    # pandas materialization (the fastest Python escape hatch; use it
    # when a C-backed Arrow kernel exists for the whole batch).  Here
    # it fixes float money into integer cents (floor(x*100+0.5) on
    # identical doubles is engine-exact), then the aggregate is pure
    # integer.
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = _cat(spark, sf_dir).read("events").select("event_type", "value")

    def to_cents(batches):
        for batch in batches:
            cents = pc.cast(
                pc.floor(pc.add(pc.multiply(batch.column(1), 100.0), 0.5)),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), cents], ["event_type", "cents"]
            )

    mapped = ev.mapInArrow(to_cents, schema="event_type string, cents long")
    return mapped.groupBy("event_type").agg(
        F.sum("cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "x128_pareto_abc",
    f"""
WITH rev AS (
  SELECT l_partkey, sum({_DEC}) AS r
  FROM lineitem GROUP BY l_partkey
), c AS (
  SELECT l_partkey, r,
         sum(r) OVER (ORDER BY r DESC, l_partkey
                      ROWS UNBOUNDED PRECEDING) AS cum,
         (SELECT sum(r) FROM rev) AS total
  FROM rev
)
SELECT CASE WHEN cum * 100 <= total * 70 THEN 'A'
            WHEN cum * 100 <= total * 90 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(r) AS DOUBLE) AS class_revenue
FROM c GROUP BY 1
""",
)
def x128_pareto_abc(spark, sf_dir):
    # Pareto/ABC classification: rank parts by revenue, classify by
    # cumulative share (A = first 70%, B = to 90%, C = tail).  All
    # comparisons are DECIMAL-exact (cum*100 <= total*70 -- no float
    # share), so the class boundary cannot drift between engines or
    # partitionings.  The cumulative revenue is a distributed prefix
    # sum (operators/ranking.py) over (revenue DESC, partkey): decimal
    # addition is associative-exact, and the |parts| relation never
    # funnels through one sort task.
    from dirty_js_etl_spark.operators.ranking import with_global_prefix_sum

    li = _cat(spark, sf_dir).read("lineitem")
    rev = li.groupBy("l_partkey").agg(F.sum(_disc_price()).alias("r"))
    total = rev.agg(F.sum("r").alias("total"))
    c = with_global_prefix_sum(
        rev, [F.desc("r"), "l_partkey"], "r", "cum"
    ).crossJoin(F.broadcast(total))
    cls = (
        F.when(F.col("cum") * 100 <= F.col("total") * 70, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 90, "B")
        .otherwise("C")
    )
    return (
        c.select(cls.alias("abc_class"), "r")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("r").cast("double").alias("class_revenue"),
        )
    )


@register(
    "x129_rfm_scores",
    """
WITH m AS (
  SELECT o_custkey AS c_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey,
       CAST(ntile(4) OVER (ORDER BY last_order, c_custkey) AS INT) AS r_score,
       CAST(ntile(4) OVER (ORDER BY frequency, c_custkey) AS INT) AS f_score,
       CAST(ntile(4) OVER (ORDER BY monetary, c_custkey) AS INT) AS m_score
FROM m
""",
)
def x129_rfm_scores(spark, sf_dir):
    # RFM customer scoring: quartile buckets over recency, frequency,
    # monetary -- three distributed ntiles (operators/ranking.py) over
    # the SAME |customers|-scale aggregate: one shuffle to aggregate
    # orders, then three range-partitioned ranking passes (one per
    # ordering) with no single-partition sorts.  Every ordering carries
    # the custkey tie-break, without which ntile is nondeterministic at
    # quartile boundaries; monetary is decimal so ties are exact.
    from dirty_js_etl_spark.operators.ranking import with_global_ntile

    o = _cat(spark, sf_dir).read("orders")
    m = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    m = with_global_ntile(m, ["last_order", "c_custkey"], 4, "r_score")
    m = with_global_ntile(m, ["frequency", "c_custkey"], 4, "f_score")
    m = with_global_ntile(m, ["monetary", "c_custkey"], 4, "m_score")
    return m.select("c_custkey", "r_score", "f_score", "m_score")


@register(
    "x130_transition_matrix",
    """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
FROM seq WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
""",
)
def x130_transition_matrix(spark, sf_dir):
    # Markov transition counts between consecutive event types per
    # user: one lead window on the user partitioning, then a tiny
    # |types|^2 aggregate -- the behavioral fingerprint behind
    # session-flow dashboards and anomaly detection.  The window
    # shuffle is the only data-scale exchange.
    from pyspark.sql import Window

    ev = _cat(spark, sf_dir).read("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    return (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@register(
    "x131_benford_audit",
    """
WITH d AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                        1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
), t AS (SELECT count(*) AS total FROM d)
SELECT digit, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) * 10000 // total AS BIGINT) AS share_bps
FROM d, t GROUP BY digit, total
""",
)
def x131_benford_audit(spark, sf_dir):
    # Benford leading-digit audit: the distribution of first digits of
    # order totals -- a classic fabricated-data screen (organic
    # magnitudes follow log-uniform digits; synthetic uniforms don't).
    # Digit extraction is integer/string-exact; shares are integer
    # basis points (cnt*10000 DIV total).  Scan + 9-key aggregate.
    o = _cat(spark, sf_dir).read("orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        ).cast("int").alias("digit")
    )
    t = d.agg(F.count(F.lit(1)).alias("total"))
    return (
        d.crossJoin(F.broadcast(t))
        .groupBy("digit", "total")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "digit",
            "n_orders",
            F.expr("CAST(n_orders * 10000 DIV total AS BIGINT)").alias(
                "share_bps"
            ),
        )
    )


@register(
    "x137_stratified_exact_k",
    """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= 20
""",
)
def x137_stratified_exact_k(spark, sf_dir):
    # Exactly-k-per-stratum sample (eval-set builder): rank each
    # stratum by the md5 hash of the id -- a deterministic shuffle
    # order -- and keep the first 20.  Unlike rate-based sampling
    # (x47) the output size is exact per stratum; unlike LIMIT it is
    # stable across partitionings and re-runs.  One window over the
    # |strata|-keyed shuffle.
    from pyspark.sql import Window

    docs = _cat(spark, sf_dir).read("documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


@register(
    "x138_late_arriving_dim",
    """
WITH dim AS (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 100
)
SELECT coalesce(d.c_mktsegment, 'UNKNOWN') AS segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS segment_revenue
FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey
GROUP BY 1
""",
)
def x138_late_arriving_dim(spark, sf_dir):
    # Late-arriving-dimension handling: facts whose dim member hasn't
    # landed yet roll into an explicit UNKNOWN bucket instead of
    # silently dropping (what an inner join would do) or failing (what
    # the reference's FK lookup returns NULL for, C13).  Once x125's
    # surrogate assignment backfills the member, re-running reassigns
    # the bucket -- the join is idempotent.  Broadcast dim, decimal
    # revenue.
    cat = _cat(spark, sf_dir)
    dim = (
        cat.read("customer")
        .filter(F.col("c_custkey") < 100)
        .select("c_custkey", "c_mktsegment")
    )
    o = cat.read("orders")
    return (
        o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey, "left")
        .groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias(
                "segment"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("segment_revenue"),
        )
    )


@register(
    "x140_density_grid",
    """
WITH b AS (
  SELECT CAST(least(CAST(l_quantity AS BIGINT) // 10, 4) AS INT) AS qty_bin,
         CAST(least(CAST(trunc(l_extendedprice) AS BIGINT) // 20000, 4) AS INT)
           AS price_bin
  FROM lineitem
)
SELECT qty_bin, price_bin, CAST(count(*) AS BIGINT) AS n_rows
FROM b GROUP BY qty_bin, price_bin
""",
)
def x140_density_grid(spark, sf_dir):
    # 2-D density grid (quantity x price, 5x5 fixed bins): the
    # heatmap/data-profile primitive.  Binning is integer floor-div
    # (engine-exact; the price cast truncates identically because
    # l_extendedprice is non-negative), the aggregate has 25 keys --
    # scan-bound at any scale.
    li = _cat(spark, sf_dir).read("lineitem")
    b = li.select(
        F.least(
            F.expr("CAST(CAST(l_quantity AS BIGINT) DIV 10 AS INT)"), F.lit(4)
        ).alias("qty_bin"),
        F.least(
            F.expr("CAST(CAST(l_extendedprice AS BIGINT) DIV 20000 AS INT)"),
            F.lit(4),
        ).alias("price_bin"),
    )
    return b.groupBy("qty_bin", "price_bin").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "x142_share_of_total",
    """
WITH rev AS (
  SELECT c.c_mktsegment, o.o_custkey,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT c_mktsegment, o_custkey AS c_custkey,
       CAST(cents * 10000 // sum(cents) OVER (PARTITION BY c_mktsegment)
            AS BIGINT) AS share_bps
FROM rev
""",
)
def x142_share_of_total(spark, sf_dir):
    # Percent-of-total (ratio_to_report): each customer's share of its
    # segment's revenue, in integer basis points over exact cents --
    # no float division anywhere, so shares sum consistently and
    # engines agree bit-for-bit.  One aggregate shuffle + one window
    # over the reduced |customers| relation reusing the same segment
    # partitioning.
    from pyspark.sql import Window

    cat = _cat(spark, sf_dir)
    o = cat.read("orders")
    c = cat.read("customer")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("c_mktsegment")
    return rev.select(
        "c_mktsegment",
        F.col("o_custkey").alias("c_custkey"),
        F.expr(
            "CAST(cents * 10000 DIV sum(cents) OVER "
            "(PARTITION BY c_mktsegment) AS BIGINT)"
        ).alias("share_bps"),
    )


@register(
    "x145_rolling_active_users",
    """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), days AS (
  SELECT DISTINCT day FROM du
), wau AS (
  SELECT d.day, count(DISTINCT u.user_id) AS wau7
  FROM days d JOIN du u
    ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
  GROUP BY d.day
), dau AS (
  SELECT day, count(*) AS dau FROM du GROUP BY day
)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(wau.wau7 AS BIGINT) AS wau7,
       CAST(dau.dau * 10000 // wau.wau7 AS BIGINT) AS stickiness_bps
FROM days d JOIN dau USING (day) JOIN wau USING (day)
""",
)
def x145_rolling_active_users(spark, sf_dir):
    # Rolling engagement: DAU, trailing-7-day WAU, and DAU/WAU
    # stickiness (integer bps).  COUNT DISTINCT cannot slide in a
    # window frame, so the scalable exact form reduces events to
    # distinct (day, user) once, then fans each daily roster into the
    # <= 7 windows it serves (a bounded 7x row multiplier on the
    # REDUCED relation, never on raw events) and re-counts.  The
    # approximate scale path is x144's mergeable HLL daily states.
    cat = _cat(spark, sf_dir)
    ev = cat.read("events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    d2 = days.select(F.col("day").alias("d"))
    wau = (
        du.join(
            F.broadcast(d2),
            (F.col("day") <= F.col("d"))
            & (F.col("day") >= F.date_sub(F.col("d"), 6)),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau7"))
    )
    return (
        dau.join(wau, dau.day == wau.d)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau7",
            F.expr("CAST(dau * 10000 DIV wau7 AS BIGINT)").alias(
                "stickiness_bps"
            ),
        )
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
    "x202_running_totals_batch",
    """
SELECT user_id, event_id,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
FROM events WHERE event_type = 'purchase'
""",
)
def x202_running_totals_batch(spark, sf_dir):
    # Per purchase event, the user's running total so far: a cumulative
    # window over the (ts, event_id) total order with integer cents spelled
    # floor(value*100 + 0.5) -- exact on identical doubles in every engine
    # (the x127 spelling), so every intermediate total is hash-checked.
    # Scale: one user-keyed shuffle + sort.
    from pyspark.sql import Window

    ev = _cat(spark, sf_dir).read("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.sum(cents).over(w).cast("bigint").alias("running_cents"),
        )
    )
