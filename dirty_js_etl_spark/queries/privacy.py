"""Privacy queries (``operators/privacy.py``, ``operators/pii.py``).

Release gates: before a table with quasi-identifiers ships in a
training corpus, every released equivalence class must be k-anonymous,
and k-anonymous classes must carry diverse sensitive values
(l-diversity, t-closeness). All are pure groupBy/broadcast shapes —
exactly SQL-replayable, so the oracles hash-check them end to end.

x211 generalizes the x51 document scrub (``corpus.pii_report`` — two
fixed patterns over customer-derived text): ordered configurable
patterns, per-pattern placeholders, replacement-order counts, and an
oracle that replays the exact redacted BYTES (md5), not just the
counts. The fixture documents carry no real PII, so the query PLANTS
deterministic synthetic PII derived from ``doc_id`` (an email, a
phone-suffix, an IPv4) and then proves the scrub removes it: counts,
the redacted text's md5, and its length are all hash-checked against a
DuckDB replay of the same regex chain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries._shared import _cat, register


@register(
    "x198_k_anonymity",
    """
WITH fine AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS INT) AS bal_band,
         count(*) AS n
  FROM customer GROUP BY 1, 2, 3
), coarse AS (
  SELECT (n_regionkey IS NOT NULL) AS mapped,
         COALESCE(n_regionkey, c_nationkey) AS geo, c_mktsegment,
         CAST(sum(n) AS BIGINT) AS n
  FROM fine LEFT JOIN nation ON c_nationkey = n_nationkey
  WHERE n < 5
  GROUP BY 1, 2, 3
)
SELECT 'fine' AS level, c_nationkey AS geo, c_mktsegment AS segment,
       bal_band, CAST(n AS BIGINT) AS n
FROM fine WHERE n >= 5
UNION ALL
SELECT CASE WHEN mapped AND n >= 5 THEN 'coarse' ELSE 'suppressed' END
         AS level,
       geo, c_mktsegment AS segment, CAST(NULL AS INT) AS bal_band, n
FROM coarse
""",
)
def x198_k_anonymity(spark, sf_dir):
    # k-anonymity with one generalization step over the customer
    # quasi-identifiers (nation, segment, $1000 balance band): classes
    # of >= 5 release fine-grained; smaller ones generalize nation ->
    # region and drop the band, releasing at 'coarse' or reporting
    # 'suppressed'. The coarse pass aggregates the fine CLASSES (never
    # re-scans raw rows); the nation->region hierarchy broadcasts.
    from dirty_js_etl_spark.operators.privacy import k_anonymity_report

    cat = _cat(spark, sf_dir)
    return k_anonymity_report(
        cat.read("customer"),
        geo_col="c_nationkey",
        seg_col="c_mktsegment",
        band=F.floor(F.col("c_acctbal") / 1000).cast("int"),
        hierarchy=cat.read("nation").select("n_nationkey", "n_regionkey"),
        child_col="n_nationkey",
        parent_col="n_regionkey",
        k=5,
    )


@register(
    "x199_l_diversity",
    """
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS INT)) AS BIGINT)
         AS l_div,
       count(DISTINCT CAST(floor(c_acctbal / 1000) AS INT)) >= 2 AS diverse
FROM customer GROUP BY 1, 2
""",
)
def x199_l_diversity(spark, sf_dir):
    # l-diversity of the sensitive balance band inside each
    # (nation, segment) class: a k-anonymous class whose band is
    # constant still discloses it — flag classes with < 2 distinct
    # values. One partial+final distinct-agg shuffle.
    from dirty_js_etl_spark.operators.privacy import l_diversity

    cat = _cat(spark, sf_dir)
    cust = cat.read("customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("int")
    )
    return l_diversity(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band", l_floor=2
    )


@register(
    "x213_t_closeness",
    """
WITH base AS (
  SELECT c_nationkey AS k1, c_mktsegment AS k2,
         CAST(floor(c_acctbal / 1000) AS INT) AS s
  FROM customer WHERE c_acctbal IS NOT NULL
), g AS (
  SELECT s, count(*) AS gc FROM base GROUP BY s
), tot AS (
  -- "tn", not "N": DuckDB identifiers are case-insensitive, so a
  -- column named N would COLLIDE with the class size n in the grid
  SELECT count(*) AS tn, count(DISTINCT s) AS m FROM base
), sizes AS (
  SELECT k1, k2, count(*) AS n FROM base GROUP BY 1, 2
), cls AS (
  SELECT k1, k2, s, count(*) AS c FROM base GROUP BY 1, 2, 3
), grid AS (
  SELECT z.k1, z.k2, z.n, g.s, g.gc, coalesce(c.c, 0) AS c, t.tn, t.m
  FROM sizes z CROSS JOIN g CROSS JOIN tot t
  -- IS NOT DISTINCT FROM per quasi-identifier key: a
  -- NULL-keyed class must match its own cls rows, mirroring the
  -- engine's eqNullSafe grid join
  LEFT JOIN cls c ON c.k1 IS NOT DISTINCT FROM z.k1
                 AND c.k2 IS NOT DISTINCT FROM z.k2 AND c.s = g.s
), cums AS (
  SELECT k1, k2, n, tn, m,
         sum(c * tn - gc * n) OVER (PARTITION BY k1, k2 ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM grid
), agg AS (
  SELECT k1, k2, n, tn, m, sum(abs(cum)) AS emd_num
  FROM cums GROUP BY 1, 2, 3, 4, 5
)
SELECT k1 AS c_nationkey, k2 AS c_mktsegment, CAST(n AS BIGINT) AS n,
       CAST(emd_num AS BIGINT) AS emd_num,
       CAST(n * tn * (m - 1) AS BIGINT) AS emd_den,
       CASE WHEN m > 1 THEN 5 * emd_num <= 1 * (n * tn * (m - 1))
            ELSE TRUE END AS tclose,
       CASE WHEN m > 1 THEN CAST(emd_num AS DOUBLE)
                          / CAST(n * tn * (m - 1) AS DOUBLE)
            ELSE 0.0 END AS emd
FROM agg
""",
)
def x213_t_closeness(spark, sf_dir):
    # the third canonical privacy gate: per-(nation, segment) class,
    # the ordered-EMD between the class's balance-band distribution
    # and the global one, entirely in integer arithmetic (exact cum
    # sums over c_j*N - g_j*n; gate = integer comparison at t = 1/5;
    # the reported emd double is one correctly-rounded division) — so
    # the oracle replays the distances bit-for-bit. Class-cardinality
    # work after two map-side-combined raw groupBys.
    from dirty_js_etl_spark.operators.privacy import t_closeness

    cat = _cat(spark, sf_dir)
    cust = cat.read("customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("int")
    )
    return t_closeness(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band", t_num=1, t_den=5
    )


def _x211_sql() -> str:
    from dirty_js_etl_spark.operators.pii import pii_redaction_sql

    counts, red = pii_redaction_sql("t")
    return f"""
WITH noisy AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
  FROM documents
)
SELECT doc_id, {counts}, md5({red}) AS redacted_md5,
       CAST(length({red}) AS INT) AS redacted_len
FROM noisy
"""


@register("x211_pii_redact", _x211_sql())
def x211_pii_redact(spark, sf_dir):
    # map-only scrub: detection is regexp_count and redaction chained
    # regexp_replace, all JVM codegen (no UDF, no shuffle) — at 100 TB
    # this is scan-bound and scales by partition count alone. Patterns
    # stay in the RE2 ∩ Java dialect so DuckDB replays the exact counts
    # and the exact redacted bytes (md5-checked). Counts follow the
    # replacement order (pattern i counted after patterns < i redacted).
    from dirty_js_etl_spark.operators.pii import redact_pii

    docs = _cat(spark, sf_dir).read("documents")
    noisy = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("t"),
    )
    out = redact_pii(noisy, "t")
    return out.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone_full",
        "n_phone",
        F.md5("redacted").alias("redacted_md5"),
        F.length("redacted").cast("int").alias("redacted_len"),
    )
