"""Round-7 additions: batch running totals (x202), a portable HyperLogLog
(x192) and TPC-H Q4 (x193)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries._shared import _cat, register


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


@register(
    "x192_hll_portable",
    """
WITH h AS (
  SELECT CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS hv
  FROM events
), b AS (
  SELECT hv // 268435456 AS register, hv % 268435456 AS rest FROM h
), r AS (
  SELECT register,
         CASE WHEN rest = 0 THEN 29 ELSE 29 - length(bin(rest)) END AS rho
  FROM b
), regs AS (
  SELECT register, max(rho) AS rho FROM r GROUP BY register
), dense AS (
  SELECT g.register, COALESCE(regs.rho, 0) AS rho
  FROM range(16) g(register) LEFT JOIN regs ON g.register = regs.register
), z AS (
  SELECT sum(1::BIGINT << (32 - rho)) AS zint FROM dense
)
SELECT CAST(dense.register AS INT) AS register, CAST(dense.rho AS INT) AS rho,
       CAST(0.673 AS DOUBLE) * 256 * 4294967296.0 / z.zint AS est_distinct
FROM dense, z
""",
)
def x192_hll_portable(spark, sf_dir):
    # From-scratch HLL whose DuckDB oracle reproduces the register table
    # AND the estimate bit-for-bit: registers/rho from md5 hex + bin()
    # string length (no transcendental log2), Z carried as an exact
    # BIGINT, one correctly-rounded division at the end.  The sketch
    # family's second fully-hash-checked member after the CMS grid
    # (x149) -- native hll_sketch_agg (x154) stays the production path;
    # this is the engine-portable spelling an external system can audit.
    # Scale: one narrow groupBy over 16 registers, no distinct pre-pass
    # (dups collapse in max), shard-mergeable by register-wise max.
    from dirty_js_etl_spark.operators.sketch import hll_portable

    ev = _cat(spark, sf_dir).read("events")
    return hll_portable(ev, F.col("user_id"), p=4)


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
