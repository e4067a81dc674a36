"""TPC-H analogs on the fixture star schema: all 22 query shapes.

Multi-join analytics that exercise Catalyst's join ordering and
broadcast decisions, with decimal-exact money arithmetic
(``_shared._DEC`` / ``_disc_price``) so the cross-engine hashes match.

Q2 / Q9 / Q11 / Q20 need ``partsupp``, which the fixtures do not carry,
so this module derives it deterministically from the keys they do carry
— the same move dbgen itself makes (partsupp rows are a pure function of
p_partkey and the supplier count):

- each part gets up to 4 suppliers: ``si = (p_partkey*13 + i*7 + 1) mod
  S`` for ``i`` in 0..3, deduped per part (``array_distinct`` on the
  offsets, so the (partkey, suppkey) PK holds at ANY supplier count,
  not just S > 21), mapped to real supplier keys through a driver-side
  sorted collect of the supplier keys (dim-sized by TPC-H definition),
  so the derivation survives non-contiguous key spaces (the sf1
  replica offsets);
- ``ps_availqty`` / ``ps_supplycost`` are md5-derived functions of the
  (partkey, suppkey) PAIR, not of the derived rows — so Q9 can price any
  lineitem's own (l_partkey, l_suppkey) directly, exactly like TPC-H
  where every lineitem pair exists in partsupp. Costs are
  ``(h mod 99900 + 100) / 100.0`` — one correctly-rounded IEEE division
  of an integer, identical bits in Spark and DuckDB (the x100 spelling).

Both engines rebuild the dimension from the same literal arithmetic, so
all four queries are fully hash-checked — no fixture regeneration, no
rows-only compromise.

Scale notes (100 TB): the supplier-key rank is a bounded driver-side
collect of the sorted supplier keys (dim-sized by TPC-H definition —
this is fixture-synthesis shimming for a table the driver doesn't ship,
not a query-path pattern; it replaced an unpartitioned rank window that
single-threaded the sf1 run); partsupp itself is ≤4×|part| rows built
map-side from a broadcast of the (s_suppkey, si) pairs — no corpus
shuffle. Q9's only big-table shuffle
is lineitem⋈orders (AQE-planned); part/supplier/nation sides are
broadcast. Q2 pre-filters partsupp to the filtered parts BEFORE the
per-part min window (legal because the min is per-part and the filter is
part-level), so the window shuffles only the surviving sliver.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dirty_js_etl_spark.queries._shared import _DEC, _cat, _disc_price, register


@register(
    "x32_tpch_q1",
    f"""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum({_DEC}) AS DOUBLE) AS sum_disc_price,
       CAST(sum({_DEC} * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       sum(l_quantity) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def x32_tpch_q1(spark, sf_dir):
    li = _cat(spark, sf_dir).read("lineitem")
    disc = _disc_price()
    charge = disc * (1 + F.col("l_tax").cast("decimal(18,2)"))
    base = F.col("l_extendedprice").cast("decimal(18,2)")
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(base).cast("double").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum("l_quantity") / cnt).alias("avg_qty"),
            (F.sum(base).cast("double") / cnt).alias("avg_price"),
            cnt.cast("long").alias("count_order"),
        )
    )


@register(
    "x33_tpch_q3",
    f"""
SELECT l_orderkey AS okey,
       CAST(sum({_DEC}) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
""",
)
def x33_tpch_q3(spark, sf_dir):
    cat = _cat(spark, sf_dir)
    cut = F.lit("1998-03-15").cast("timestamp")
    c = cat.read("customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = cat.read("orders").filter(F.col("o_orderdate") < cut)
    li = cat.read("lineitem").filter(F.col("l_shipdate") > cut)
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("l_orderkey").alias("okey"), "o_orderdate", "o_orderpriority"
        )
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .select("okey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "x34_tpch_q5",
    f"""
SELECT n_name, CAST(sum({_DEC}) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
)
def x34_tpch_q5(spark, sf_dir):
    # fact-first join order: lineitem streams as the probe side of
    # every join, so each build side is the genuinely smaller relation
    # (filtered orders, then customer, then supplier). The dim-first
    # spelling ((c⋈o)⋈li) let the static planner build the broadcast
    # hash over the whole pruned LINEITEM (its scan estimate undercut
    # the join-output estimate of c⋈o, and AQE cannot re-plan a
    # compiled broadcast join) — a 6M-entry driver-built hash at sf1
    # and exactly the wrong side to materialize at any scale. No hints:
    # when orders/customer outgrow the threshold at 100 TB these
    # degrade to SMJs on their equi-keys.
    cat = _cat(spark, sf_dir)
    c, o, li = cat.read("customer"), cat.read("orders"), cat.read("lineitem")
    s, n, r = cat.read("supplier"), cat.read("nation"), cat.read("region")
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    r = r.filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


@register(
    "x52_tpch_q6",
    """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def x52_tpch_q6(spark, sf_dir):
    # pure filter+agg: every predicate reaches the parquet scan
    li = _cat(spark, sf_dir).read("lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_discount"
    ).cast("decimal(18,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "x53_tpch_q10",
    f"""
SELECT c_custkey, c_name,
       CAST(sum({_DEC}) AS DOUBLE) AS revenue,
       n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
""",
)
def x53_tpch_q10(spark, sf_dir):
    # returned-item revenue by customer; nation broadcast, facts shuffle
    # once on the join key then once for the agg
    cat = _cat(spark, sf_dir)
    c, o, li, n = (
        cat.read("customer"),
        cat.read("orders"),
        cat.read("lineitem"),
        cat.read("nation"),
    )
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = li.filter(F.col("l_returnflag") == "R")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@register(
    "x54_tpch_q14",
    f"""
SELECT CAST(100.00 * sum(CASE WHEN p_type LIKE 'PROMO%' THEN {_DEC}
                              ELSE CAST(0 AS DECIMAL(18,2)) END)
            / sum({_DEC}) AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
""",
)
def x54_tpch_q14(spark, sf_dir):
    # promo revenue share: no forced hint on part -- it scales with the
    # data (unlike nation/region); size-based planning broadcasts it
    # while it fits and degrades to a shuffle join when it doesn't, so
    # the same code is right at sf0.1 and at 100 TB
    cat = _cat(spark, sf_dir)
    li = cat.read("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = cat.read("part")
    disc = _disc_price()
    promo = F.when(
        F.col("p_type").like("PROMO%"), disc
    ).otherwise(F.lit(0).cast("decimal(18,2)"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.0) * F.sum(promo) / F.sum(disc))
            .cast("double")
            .alias("promo_revenue")
        )
    )


@register(
    "x55_tpch_q18",
    """
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 150
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       sum(l_quantity) AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
""",
)
def x55_tpch_q18(spark, sf_dir):
    # large-volume orders. The HAVING pre-agg already IS the final
    # measure: the outer query groups by order attributes, so its
    # sum(l_quantity) per group equals the per-orderkey sum the HAVING
    # computed — joining raw lineitem back and re-aggregating (the
    # pre-r9 shape) shipped 6M rows through a second join for a value
    # already in hand (the sf1 plan built a broadcast hash over the
    # whole lineitem projection). Now: ONE map-side-combined lineitem
    # aggregation, a 1:1 inner join to orders on the filtered aggregate
    # (data-dependent cardinality, no hint — AQE broadcasts it when
    # small), and a customer attach.
    cat = _cat(spark, sf_dir)
    c, o, li = cat.read("customer"), cat.read("orders"), cat.read("lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
    )


@register(
    "x82_tpch_q22",
    """
WITH ab AS (
  SELECT avg(CAST(c_acctbal AS DECIMAL(18,2))) AS v
  FROM customer WHERE c_acctbal > 0
)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS totacctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
CROSS JOIN ab
WHERE c.c_acctbal > ab.v
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
""",
)
def x82_tpch_q22(spark, sf_dir):
    # TPC-H Q22 analog (churned-customer shape): above-average balances
    # with no orders since 2000.  Composition of three scale idioms --
    # the 1-row average broadcasts (scalar subquery), the no-recent-
    # orders test is a left_anti join on the customer key with the date
    # predicate pushed to the orders scan, and the nation name is a
    # broadcast dim lookup; the only data shuffle is the anti join's.
    cat = _cat(spark, sf_dir)
    c, n, o = cat.read("customer"), cat.read("nation"), cat.read("orders")
    ab = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg(F.col("c_acctbal").cast("decimal(18,2)")).alias("v")
    )
    rich = c.join(F.broadcast(ab)).filter(F.col("c_acctbal") > F.col("v"))
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    inactive = rich.join(
        recent, rich["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    return (
        inactive.join(
            F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@register(
    "x83_tpch_q16",
    """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
GROUP BY 1, 2, 3
""",
)
def x83_tpch_q16(spark, sf_dir):
    # TPC-H Q16 analog (lineitem stands in for partsupp): distinct
    # suppliers per part profile.  part scales with the data, so no
    # forced broadcast hint (size-based planning broadcasts it while it
    # fits); Catalyst plans the distinct-agg as the two-phase
    # expand (partial distinct on (group, suppkey), then final count)
    # so hot part profiles never funnel through one reducer.
    cat = _cat(spark, sf_dir)
    li, p = cat.read("lineitem"), cat.read("part")
    return (
        li.join(
            p.filter(F.col("p_brand") != "Brand#1"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "x115_tpch_q13",
    """
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
""",
)
def x115_tpch_q13(spark, sf_dir):
    # TPC-H Q13 analog (customer order-count distribution): the LEFT
    # join keeps order-less customers so the zero bucket is real.
    # count(o_orderkey) (not count(*)) makes unmatched rows count 0.
    # Two aggregations: the first shuffles on c_custkey, the second is
    # a tiny distribution reduce -- the canonical "histogram of a
    # group-by" double aggregate.
    cat = _cat(spark, sf_dir)
    c = cat.read("customer")
    o = cat.read("orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "x116_tpch_q17",
    f"""
WITH pavg AS (
  SELECT l_partkey, 0.2 * (sum(l_quantity) / count(*)) AS qty_thresh
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  / 7.0 + 0.0 AS DOUBLE) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#12'
JOIN pavg ON pavg.l_partkey = l.l_partkey
WHERE l.l_quantity < pavg.qty_thresh
""",
)
def x116_tpch_q17(spark, sf_dir):
    # TPC-H Q17 analog (small-quantity-order revenue): the correlated
    # "avg quantity for this part" subquery decorrelates into a
    # per-part aggregate joined back to lineitem.  Quantities are
    # integral doubles so sum/count (and the 0.2x threshold) are
    # bit-identical across engines; money goes through DECIMAL.  No
    # forced hints: part and the per-part averages both scale with the
    # data, so size-based planning / AQE picks broadcast only while
    # they fit.  lineitem is scanned twice (avg pass + probe pass).
    cat = _cat(spark, sf_dir)
    li = cat.read("lineitem")
    p = cat.read("part").filter(F.col("p_brand") == "Brand#12")
    pavg = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * (F.sum("l_quantity") / F.count(F.lit(1)))).alias(
            "qty_thresh"
        )
    )
    probe = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(pavg.withColumnRenamed("l_partkey", "pk"),
              F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
    )
    return probe.agg(
        # raw division of an exact decimal sum -- bit-identical on both
        # engines, no decimal re-round (kmv discipline)
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                "double"
            )
            / 7.0
            + F.lit(0.0)
        ).alias("avg_yearly")
    )


@register(
    "x117_tpch_q15",
    f"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum({_DEC}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
""",
)
def x117_tpch_q15(spark, sf_dir):
    # TPC-H Q15 analog (top supplier by quarterly revenue): the view
    # becomes a cached-reusable aggregate, the scalar max is a 1-row
    # broadcast, and the equality keeps ALL tied winners (exact
    # decimal revenue makes the tie test sound; a double sum could
    # split ties across partitions_orders).  Supplier dim broadcasts.
    cat = _cat(spark, sf_dir)
    li = cat.read("lineitem")
    s = cat.read("supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_disc_price()).cast("double").alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "x118_tpch_q7",
    f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(sum({_DEC.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1995-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY sn.n_name, cn.n_name, l_year
""",
)
def x118_tpch_q7(spark, sf_dir):
    # TPC-H Q7 analog (volume shipping between two nations): a 6-table
    # join where every dimension (supplier, customer, both nation
    # copies) broadcasts, so the only fact-scale shuffle is
    # lineitem |x| orders on orderkey; the disjunctive nation-pair
    # predicate prunes AFTER the cheap broadcast lookups.  Decimal
    # revenue, grouped by direction x ship year.
    cat = _cat(spark, sf_dir)
    li = cat.read("lineitem")
    o = cat.read("orders")
    c = cat.read("customer")
    s = cat.read("supplier")
    n = cat.read("nation")
    cn = n.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        # customer/supplier scale with the data — no forced hints; the
        # 25-row nation projections keep theirs
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(F.sum(_disc_price()).cast("double").alias("revenue"))


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


@register(
    "x193_tpch_q4",
    """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate >= o.o_orderdate + INTERVAL 30 DAY)
GROUP BY 1
""",
)
def x193_tpch_q4(spark, sf_dir):
    # Q4 analog (fixtures lack commit/receipt dates, so "late line" =
    # shipped 30+ days after order). The EXISTS comparison depends only
    # on the outer row (o_orderdate + 30d), so it rewrites losslessly to
    # a per-orderkey max(l_shipdate) PRE-AGGREGATION + inner 1:1 join:
    # map-side combine collapses each order's lines before the shuffle
    # (~4x fewer exchanged rows), and the date screen runs post-join on
    # one row per orderkey. The quarter filter still pushes to the
    # orders scan (partition-prunable at scale). (r9 rewrite of the
    # left-semi shape after the sf1 audit flagged 4.8x; Q2/Q9/Q11/Q20
    # need partsupp; q13_partsupp.py derives one deterministically, so
    # all 22 TPC-H shapes have analogs.)
    cat = _cat(spark, sf_dir)
    orders = (
        cat.read("orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
        )
    )
    last_ship = (
        cat.read("lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_shipdate"))
    )
    late = (
        orders.join(last_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.col("last_shipdate")
            >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
    )
    return late.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(F.count(F.lit(1)).alias("order_count"))


# DuckDB spelling of the pair-keyed attribute functions.
_SQL_H = (
    "CAST('0x' || substring(md5(CAST({pk} AS VARCHAR) || ':' || "
    "CAST({sk} AS VARCHAR)), {pos}, 8) AS BIGINT)"
)


def _sql_availqty(pk: str, sk: str) -> str:
    return f"CAST({_SQL_H.format(pk=pk, sk=sk, pos=1)} % 9999 + 1 AS INT)"


def _sql_supplycost(pk: str, sk: str) -> str:
    return (
        f"CAST({_SQL_H.format(pk=pk, sk=sk, pos=9)} % 99900 + 100 AS DOUBLE)"
        " / CAST(100 AS DOUBLE)"
    )


# The shared WITH-prefix: supplier rank, supplier count, derived partsupp.
_SQL_PARTSUPP = f"""
WITH sup_i AS (
  SELECT s_suppkey, s_nationkey, s_name, s_acctbal,
         row_number() OVER (ORDER BY s_suppkey) - 1 AS si
  FROM supplier
), scount AS (SELECT count(*) AS s_cnt FROM supplier),
partsupp AS (
  SELECT p_partkey AS ps_partkey, s_suppkey AS ps_suppkey,
         {_sql_availqty('p_partkey', 's_suppkey')} AS ps_availqty,
         {_sql_supplycost('p_partkey', 's_suppkey')} AS ps_supplycost
  FROM (SELECT p_partkey,
               UNNEST(list_distinct([(p_partkey * 13 + 1) % s_cnt,
                                     (p_partkey * 13 + 8) % s_cnt,
                                     (p_partkey * 13 + 15) % s_cnt,
                                     (p_partkey * 13 + 22) % s_cnt])) AS si
        FROM part CROSS JOIN scount) pr
  JOIN sup_i USING (si)
)
"""


def _ps_hex(pk, sk):
    return F.md5(F.concat(pk.cast("string"), F.lit(":"), sk.cast("string")))


def _ps_availqty(pk, sk):
    h = F.conv(F.substring(_ps_hex(pk, sk), 1, 8), 16, 10).cast("bigint")
    return (h % 9999 + 1).cast("int")


def _ps_supplycost(pk, sk):
    h = F.conv(F.substring(_ps_hex(pk, sk), 9, 8), 16, 10).cast("bigint")
    return (h % 99900 + 100).cast("double") / F.lit(100).cast("double")


def _derived_partsupp(cat, part=None):
    """partsupp rows for ``part`` (default: the whole part table).

    Passing a pre-filtered part frame keeps the derivation map-side over
    exactly the parts a query needs — the broadcast (si -> s_suppkey)
    rank table is the only other input.

    The supplier rank is built from a driver-side collect of the sorted
    supplier keys, NOT a global ``row_number()`` window: supplier is
    dim-sized by definition (TPC-H: 0.01% of lineitem), so the collect
    is bounded, while an unpartitioned window moves the frame to one
    partition and fires ``WindowExec: No Partition Defined`` on every
    Q2/Q9/Q11/Q20 run. The collect also makes
    ``s_cnt`` a plan literal, so the pmod needs no 1-row count join.
    The four si offsets are deduped map-side via ``array_distinct`` so
    the (ps_partkey, ps_suppkey) primary-key invariant holds even when
    the supplier count divides 7, 14, or 21 — at fixture
    scales the offsets are already distinct and results are unchanged.
    """
    supplier = cat.read("supplier")
    skeys = sorted(r[0] for r in supplier.select("s_suppkey").collect())
    s_cnt = len(skeys)
    sup_i = supplier.sparkSession.createDataFrame(
        [(i, k) for i, k in enumerate(skeys)], "si long, s_suppkey long"
    )
    if part is None:
        part = cat.read("part")
    pk = F.col("p_partkey")
    pairs = (
        part.select("p_partkey")
        .select(
            "p_partkey",
            F.explode(
                F.array_distinct(
                    F.array(
                        *[
                            F.pmod(pk * 13 + i * 7 + 1, F.lit(s_cnt)).cast(
                                "long"
                            )
                            for i in range(4)
                        ]
                    )
                )
            ).alias("si"),
        )
        .join(F.broadcast(sup_i), "si")
    )
    pk, sk = F.col("p_partkey"), F.col("s_suppkey")
    return pairs.select(
        pk.alias("ps_partkey"),
        sk.alias("ps_suppkey"),
        _ps_availqty(pk, sk).alias("ps_availqty"),
        _ps_supplycost(pk, sk).alias("ps_supplycost"),
    )


@register(
    "x194_tpch_q2",
    _SQL_PARTSUPP
    + """
, eu AS (
  SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
  FROM partsupp
  JOIN sup_i ON sup_i.s_suppkey = ps_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), flt AS (
  SELECT eu.* FROM eu
  JOIN part ON p_partkey = ps_partkey
  WHERE p_size <= 15 AND p_type = 'STANDARD'
), best AS (
  SELECT ps_partkey, min(ps_supplycost) AS min_cost FROM flt GROUP BY ps_partkey
)
SELECT s_acctbal, s_name, n_name, flt.ps_partkey AS p_partkey, ps_supplycost
FROM flt JOIN best ON flt.ps_partkey = best.ps_partkey
                  AND flt.ps_supplycost = best.min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
""",
)
def x194_tpch_q2(spark, sf_dir):
    # Q2 shape: per-part min over the region's suppliers, top-100 by
    # account balance. The part-level filter commutes with the per-part
    # min, so partsupp is derived only for the filtered parts and the
    # min-window shuffles just that sliver (one shuffle by ps_partkey);
    # supplier/nation/region attach by broadcast. The ORDER BY carries
    # (s_name, p_partkey) — unique per result row — so LIMIT 100 is a
    # deterministic TakeOrdered, never a tie gamble.
    cat = _cat(spark, sf_dir)
    part = cat.read("part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    )
    ps = _derived_partsupp(cat, part=part)
    nat = cat.read("nation")
    reg = cat.read("region").filter(F.col("r_name") == "EUROPE")
    eu_sup = (
        cat.read("supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    flt = ps.join(
        F.broadcast(eu_sup), ps.ps_suppkey == eu_sup.s_suppkey
    )
    w = Window.partitionBy("ps_partkey")
    best = flt.withColumn(
        "min_cost", F.min("ps_supplycost").over(w)
    ).filter(F.col("ps_supplycost") == F.col("min_cost"))
    return (
        best.select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "ps_supplycost",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "x195_tpch_q9",
    f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(sum({_DEC}
            - CAST({_sql_supplycost('l_partkey', 'l_suppkey')} AS DECIMAL(18,2))
              * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE 'red%'
GROUP BY 1, 2
""",
)
def x195_tpch_q9(spark, sf_dir):
    # Q9 shape: profit = disc price minus supply cost, by supplier nation
    # and order year. Supply cost is the pair-keyed hash function applied
    # to lineitem's OWN (l_partkey, l_suppkey) — exactly TPC-H's "every
    # lineitem pair exists in partsupp", with no partsupp join at all.
    # lineitem⋈orders is the one big-table shuffle; part (name-filtered)
    # and supplier/nation broadcast. Money stays DECIMAL(18,2)-exact
    # until the final double cast.
    cat = _cat(spark, sf_dir)
    li = cat.read("lineitem")
    red = (
        cat.read("part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    sup = cat.read("supplier").select("s_suppkey", "s_nationkey")
    nat = cat.read("nation").select("n_nationkey", "n_name")
    orders = cat.read("orders").select("o_orderkey", "o_orderdate")
    cost = _ps_supplycost(F.col("l_partkey"), F.col("l_suppkey"))
    amount = _disc_price() - cost.cast("decimal(18,2)") * F.col(
        "l_quantity"
    ).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("profit"))
    )


@register(
    "x196_tpch_q11",
    _SQL_PARTSUPP
    + """
, nps AS (
  SELECT ps_partkey,
         sum(CAST(ps_supplycost AS DECIMAL(18,2))
             * CAST(ps_availqty AS DECIMAL(18,2))) AS val
  FROM partsupp
  JOIN sup_i ON sup_i.s_suppkey = ps_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY ps_partkey
), tot AS (SELECT sum(val) AS total, count(*) AS n_parts FROM nps)
SELECT ps_partkey AS p_partkey, CAST(val AS DOUBLE) AS value
FROM nps CROSS JOIN tot WHERE val * n_parts > 2 * total
""",
)
def x196_tpch_q11(spark, sf_dir):
    # Q11 shape: per-part stock value within one nation, keep parts worth
    # more than twice the nation's per-part average (TPC-H's fixed
    # fraction scales as 1/SF — this is the scale-invariant spelling, so
    # the query stays non-degenerate at every fixture scale). The share
    # test is val*n > 2*total — DECIMAL×integer, exact in both engines
    # (never a decimal division, whose scale rules differ). The nation
    # total is a broadcast 1-row aggregate; one groupBy(ps_partkey)
    # shuffle.
    cat = _cat(spark, sf_dir)
    nat = cat.read("nation").filter(F.col("n_name") == "NATION_7")
    nsup = (
        cat.read("supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    ps = _derived_partsupp(cat)
    val = F.col("ps_supplycost").cast("decimal(18,2)") * F.col(
        "ps_availqty"
    ).cast("decimal(18,2)")
    nps = (
        ps.join(F.broadcast(nsup), ps.ps_suppkey == nsup.s_suppkey)
        .groupBy("ps_partkey")
        .agg(F.sum(val).alias("val"))
    )
    tot = nps.agg(
        F.sum("val").alias("total"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        nps.crossJoin(F.broadcast(tot))
        .filter(F.col("val") * F.col("n_parts") > 2 * F.col("total"))
        .select(
            F.col("ps_partkey").alias("p_partkey"),
            F.col("val").cast("double").alias("value"),
        )
    )


@register(
    "x197_tpch_q20",
    f"""
WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
shipped AS (
  SELECT l_partkey, l_suppkey, 0.5 * sum(l_quantity) AS half_qty
  FROM lineitem JOIN red ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
), excess AS (
  SELECT DISTINCT l_suppkey AS suppkey FROM shipped
  WHERE {_sql_availqty('l_partkey', 'l_suppkey')} > half_qty
)
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN excess ON suppkey = s_suppkey
WHERE n_name = 'NATION_3'
""",
)
def x197_tpch_q20(spark, sf_dir):
    # Q20 shape: suppliers in one nation whose stock of 'red' parts
    # exceeds half of what they shipped in 1996. availqty is the
    # pair-keyed hash function on the shipped pair itself (TPC-H's
    # correlated IN decorated the same way); pairs with no 1996
    # shipments drop out exactly as TPC-H's NULL comparison does.
    # Shape: year filter pushed to the lineitem scan, part filter
    # broadcast-semi, one groupBy(pair) shuffle, then a left-semi
    # against the dim-sized supplier table. half = 0.5 × an exact
    # integral sum — exact in IEEE double in both engines.
    cat = _cat(spark, sf_dir)
    red = (
        cat.read("part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = (
        cat.read("lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    shipped = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg((F.lit(0.5) * F.sum("l_quantity")).alias("half_qty"))
    )
    excess = (
        shipped.filter(
            _ps_availqty(F.col("l_partkey"), F.col("l_suppkey"))
            > F.col("half_qty")
        )
        .select("l_suppkey")
        .distinct()
    )
    nat = cat.read("nation").filter(F.col("n_name") == "NATION_3")
    return (
        cat.read("supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            excess, F.col("s_suppkey") == excess.l_suppkey, "left_semi"
        )
        .select("s_name", "s_acctbal")
    )
