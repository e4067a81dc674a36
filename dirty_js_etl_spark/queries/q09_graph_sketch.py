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
from dirty_js_etl_spark.queries.q04_corpus import _NORM_SQL, _STREAM_COUNTER, _X4_SQL

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


_X133_TERMS = "('data', 'merge', 'scan')"


@register(
    "x133_bm25_scores",
    f"""
WITH tok AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
), dl AS (
  SELECT doc_id, len(toks) AS dl FROM tok
), stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), posting AS (
  SELECT doc_id, UNNEST(toks) AS t FROM tok
), tf AS (
  SELECT doc_id, t, count(*) AS tf
  FROM posting WHERE t IN {_X133_TERMS}
  GROUP BY doc_id, t
), df AS (
  SELECT t, count(DISTINCT doc_id) AS dfreq FROM tf GROUP BY t
)
SELECT tf.doc_id,
       CAST(round(sum(
         ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1)
         * tf * 2.2
         / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
       ), 6) + 0.0 AS DOUBLE) AS bm25
FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
GROUP BY tf.doc_id
""",
)
def x133_bm25_scores(spark, sf_dir):
    # BM25 relevance scoring (k1=1.2, b=0.75) for a 3-term query --
    # x97's boolean postings intersection upgraded to ranked
    # retrieval.  Corpus stats (N, avgdl) are a 1-row broadcast, df is
    # |terms| rows broadcast; the only data-scale work is the posting
    # explode filtered to the query terms BEFORE the shuffle.  The
    # <=3 transcendental terms per doc are rounded to 6 dp.
    from dirty_js_etl_spark.operators.text import tokens

    terms = ["data", "merge", "scan"]
    docs = _cat(spark, sf_dir).read("documents")
    tok = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    dl = tok.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    posting = tok.select("doc_id", F.explode("toks").alias("t")).filter(
        F.col("t").isin(terms)
    )
    tf = posting.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("t").agg(F.countDistinct("doc_id").alias("dfreq"))
    idf = F.log(
        (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5) + 1
    )
    term_score = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg((F.round(F.sum(term_score), 6) + F.lit(0.0)).alias("bm25"))
    )


@register(
    "x134_bigram_lm_quality",
    f"""
WITH tok AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
), bigrams AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM tok, UNNEST(generate_series(1, len(toks) - 1)) AS s(i)
  WHERE len(toks) >= 2
), bc AS (
  SELECT w1, w2, count(*) AS bcnt FROM bigrams GROUP BY w1, w2
), uc AS (
  SELECT w1 AS w, count(*) AS ucnt FROM bigrams GROUP BY w1
), v AS (
  SELECT count(DISTINCT t) AS vsize
  FROM (SELECT UNNEST(toks) AS t FROM tok)
)
SELECT b.doc_id,
       CAST(round(sum(ln((bcnt + 1.0) / (ucnt + vsize)))
                  / count(*), 6) + 0.0 AS DOUBLE) AS avg_logprob,
       CAST(count(*) AS BIGINT) AS n_bigrams
FROM bigrams b
JOIN bc USING (w1, w2)
JOIN uc ON uc.w = b.w1
CROSS JOIN v
GROUP BY b.doc_id
""",
)
def x134_bigram_lm_quality(spark, sf_dir):
    # Self-trained bigram LM quality score: each doc's average
    # add-1-smoothed log P(w2|w1) under the CORPUS's own bigram
    # statistics -- the cheap statistical stand-in for a perplexity
    # filter (outlier docs score far below the corpus mode).  Bigram
    # expansion is a map-side generator; model "training" is two hash
    # aggregates; scoring joins each doc bigram to its corpus counts
    # on the same (w1, w2) partitioning Catalyst reuses.  V and the
    # unigram table are broadcast-sized.
    from dirty_js_etl_spark.operators.text import tokens

    docs = _cat(spark, sf_dir).read("documents")
    tok = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = tok.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.element_at("toks", i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    bc = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bcnt"))
    uc = bigrams.groupBy(F.col("w1").alias("w")).agg(
        F.count(F.lit(1)).alias("ucnt")
    )
    v = (
        tok.select(F.explode("toks").alias("t"))
        .agg(F.countDistinct("t").alias("vsize"))
    )
    lp = F.log((F.col("bcnt") + 1.0) / (F.col("ucnt") + F.col("vsize")))
    return (
        bigrams.join(bc, ["w1", "w2"])
        .join(uc, bigrams.w1 == F.col("w"))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            (
                F.round(F.sum(lp) / F.count(F.lit(1)), 6) + F.lit(0.0)
            ).alias("avg_logprob"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


@register("x135_compression_quality", None)
def x135_compression_quality(spark, sf_dir):
    # Deflate compression-ratio quality signal (Gopher-style repetition
    # screen) via an Arrow-batched pandas UDF.  rows-only: the exact
    # ratio depends on the zlib build, which a SQL oracle can't
    # reproduce; property tests pin the semantics (repetitive <<
    # random, deterministic across partitionings) and a golden digest
    # of the full sf0.001 output table pins the values for the
    # container's zlib build (tests/test_text.py, r9).
    from dirty_js_etl_spark.operators.text import compression_ratio_udf

    ratio = compression_ratio_udf()
    docs = _cat(spark, sf_dir).read("documents")
    return docs.select(
        "doc_id", F.round(ratio(F.col("text")), 6).alias("compression_ratio")
    )


@register(
    "x136_lang_confusion",
    f"""
WITH pred AS ({_X4_SQL})
SELECT d.lang AS label, p.lang_pred,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN pred p USING (doc_id)
GROUP BY d.lang, p.lang_pred
""",
)
def x136_lang_confusion(spark, sf_dir):
    # Classifier evaluation as a query: confusion matrix of the
    # heuristic language-id (x4) against the labeled lang column --
    # the accuracy audit every model-derived corpus column needs.
    # Map-only scoring + a |langs|^2 aggregate.
    from dirty_js_etl_spark.operators.text import lang_id

    docs = _cat(spark, sf_dir).read("documents")
    return (
        docs.select(
            F.col("lang").alias("label"),
            lang_id(F.col("text")).alias("lang_pred"),
        )
        .groupBy("label", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
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
    "x139_asof_nearest",
    """
SELECT l.event_id, l.user_id, nearest.nv AS nearest_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
LEFT JOIN LATERAL (
  SELECT r.value AS nv
  FROM events r
  WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
  ORDER BY abs(date_diff('microseconds', l.ts, r.ts)),
           r.ts, r.event_id
  LIMIT 1
) nearest ON TRUE
""",
)
def x139_asof_nearest(spark, sf_dir):
    # NEAREST as-of join (completes the family: backward x21, forward
    # x106): each click takes the purchase closest in time, either
    # direction, earlier-on-tie.  ONE union + ONE key-shuffle: both the
    # backward and forward candidates come from two mirrored frames over
    # the SAME partitioned sort (no composed second asof_join — round
    # 3's double-pass spelling re-read the same parquet relation through
    # two union branches and tripped a plan-id-sensitive analyzer flake
    # under the driver).  Candidate picks are struct
    # argmin/argmax so equal-timestamp purchases resolve by event_id
    # exactly like the oracle's ORDER BY abs(dt), ts, event_id.
    from pyspark.sql import Window

    ev = _cat(spark, sf_dir).read("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("side"),
        "event_id",
        F.lit(None).cast("bigint").alias("p_eid"),
        F.lit(None).cast("double").alias("p_val"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("side"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("event_id").alias("p_eid"),
        F.col("value").alias("p_val"),
    )
    u = clicks.unionByName(purchases)
    base = Window.partitionBy("user_id").orderBy(
        F.col("t").asc(), F.col("side").desc()
    )
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    # backward: max struct(ts, -eid) = latest purchase at-or-before,
    # min event_id on equal ts; forward: min struct(ts, eid) = earliest
    # purchase after, min event_id on equal ts. A same-ts purchase sorts
    # BEFORE the click (side desc), so it lands in the backward frame
    # with distance 0 — the <= pick below keeps it, matching the oracle.
    b_cand = F.when(
        F.col("side") == 1,
        F.struct(
            F.col("t").alias("ts"),
            (-F.col("p_eid")).alias("neg_eid"),
            F.col("p_val").alias("val"),
        ),
    )
    f_cand = F.when(
        F.col("side") == 1,
        F.struct(
            F.col("t").alias("ts"),
            F.col("p_eid").alias("eid"),
            F.col("p_val").alias("val"),
        ),
    )
    filled = u.select(
        "user_id",
        "t",
        "side",
        "event_id",
        F.max(b_cand).over(wb).alias("b"),
        F.min(f_cand).over(wf).alias("f"),
    ).filter(F.col("side") == 0)
    # microsecond-exact distances via unix_micros (no float); the casts
    # are no-ops on LTZ and rescue NTZ driver sessions
    back_d = F.unix_micros(F.col("t").cast("timestamp")) - F.unix_micros(
        F.col("b.ts").cast("timestamp")
    )
    fwd_d = F.unix_micros(F.col("f.ts").cast("timestamp")) - F.unix_micros(
        F.col("t").cast("timestamp")
    )
    pick_back = F.col("b").isNotNull() & (
        F.col("f").isNull() | (back_d <= fwd_d)
    )
    return filled.select(
        "event_id",
        "user_id",
        F.when(pick_back, F.col("b.val"))
        .otherwise(F.col("f.val"))
        .alias("nearest_purchase_value"),
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


@register("x144_sketch_rollup", None)
def x144_sketch_rollup(spark, sf_dir):
    # Two-level sketch REAGGREGATION: per-day HLL sketches (binary,
    # storable) union-merged into weekly distinct-user estimates --
    # x98's incremental-rollup story for COUNT DISTINCT, the one
    # aggregate plain partial sums can't reaggregate.  At 100 TB/day
    # the daily sketch table is bytes per day; weekly/monthly/any-ad-
    # hoc-range distincts come from merging stored states instead of
    # rescanning raw events.  rows-only: sketch estimates are
    # engine-specific (DataSketches HLL); test_sketches.py bounds the
    # error vs the exact two-level answer at <= 5%.
    ev = _cat(spark, sf_dir).read("events")
    daily = ev.groupBy(
        (
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            / F.lit(7)
        ).cast("int").alias("week_idx"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.expr("hll_sketch_agg(user_id, 12)").alias("sk"))
    return (
        daily.groupBy("week_idx")
        .agg(
            F.expr(
                "hll_sketch_estimate(hll_union_agg(sk, true))"
            ).alias("approx_weekly_users"),
            F.count(F.lit(1)).alias("n_days"),
        )
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
    "x146_blocklist_filter",
    """
WITH blocklist AS (
  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
           AS fp
  FROM documents WHERE doc_id % 20 = 0
)
SELECT d.doc_id, d.lang
FROM documents d
LEFT JOIN blocklist b
  ON md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) = b.fp
WHERE b.fp IS NULL AND d.doc_id % 20 <> 0
""",
)
def x146_blocklist_filter(spark, sf_dir):
    # Exact-hash blocklist decontamination: drop any training doc
    # whose normalized-text fingerprint appears in the eval/blocklist
    # set -- the exact-match complement of x45's n-gram overlap (that
    # catches partial contamination; this catches verbatim copies,
    # including doc_id-different duplicates of eval rows).  The
    # blocklist reduces to |eval| fingerprints and broadcasts; the
    # corpus side is a map-only hash + broadcast anti join -- no
    # corpus shuffle at any scale.
    from dirty_js_etl_spark.operators.text import fingerprint_md5

    docs = _cat(spark, sf_dir).read("documents")
    block = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(fingerprint_md5(F.col("text")).alias("fp"))
        .distinct()
    )
    return (
        docs.filter(F.col("doc_id") % 20 != 0)
        .join(
            F.broadcast(block),
            fingerprint_md5(F.col("text")) == F.col("fp"),
            "left_anti",
        )
        .select("doc_id", "lang")
    )


@register(
    "x147_bloom_decontaminate",
    f"""
WITH fp AS (
  SELECT doc_id, lang, md5({_NORM_SQL}) AS fp,
         doc_id % 20 = 0 AS is_member
  FROM documents
), probes AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4)) r(j)),
member_bits AS (
  SELECT DISTINCT
         CAST('0x' || substring(
                md5(CAST(r.j AS VARCHAR) || ':' || f.fp), 1, 8)
              AS BIGINT) % 32768 AS pos
  FROM fp f CROSS JOIN probes r WHERE f.is_member
), train AS (
  SELECT f.doc_id, f.lang,
         CAST('0x' || substring(
                md5(CAST(r.j AS VARCHAR) || ':' || f.fp), 1, 8)
              AS BIGINT) % 32768 AS pos
  FROM fp f CROSS JOIN probes r WHERE NOT f.is_member
), hits AS (
  SELECT t.doc_id, t.lang, count(m.pos) AS nhit
  FROM train t LEFT JOIN member_bits m ON t.pos = m.pos
  GROUP BY t.doc_id, t.lang
)
SELECT doc_id, lang FROM hits WHERE nhit < 5
""",
)
def x147_bloom_decontaminate(spark, sf_dir):
    # Membership screening with ZERO corpus-side join: the blocklist
    # (docs with doc_id % 20 == 0, the same eval set as x146) folds to
    # an m-bit Bloom filter -- one narrow aggregation bounded at m/64
    # longs -- and the training side drops members with a map-only
    # k-probe bit test.  x146's broadcast anti-join is the exact
    # spelling; this is what replaces it when the blocklist outgrows
    # broadcast (a billion seen-URL fingerprints still fits in a
    # 1.4 GiB bloom at 10 bits/key) -- membership pruning whose cost
    # is independent of member count.  FP side-effect: a non-member
    # doc can be dropped at (1-e^{-kn/m})^k; with m=2^15, k=5 and the
    # fixture's n<=500 members the expected FP count is < 1e-8 rows.
    # The portable=True bit positions come from md5 hex (cms_bucket's
    # spelling), so the DuckDB oracle rebuilds the EXACT same filter --
    # its false positives included -- and the membership screen is
    # hash-checked, not just FP-bound-tested (the xxhash64 fast path
    # stays the default for production callers).
    from dirty_js_etl_spark.operators.sketch import (
        bloom_build,
        bloom_contains,
    )
    from dirty_js_etl_spark.operators.text import fingerprint_md5

    m_bits, k = 1 << 15, 5
    docs = _cat(spark, sf_dir).read("documents")
    fp = fingerprint_md5(F.col("text"))
    bloom = bloom_build(
        docs.filter(F.col("doc_id") % 20 == 0).select(fp.alias("fp")),
        F.col("fp"),
        m_bits=m_bits,
        k=k,
        portable=True,
    )
    return (
        docs.filter(F.col("doc_id") % 20 != 0)
        .crossJoin(F.broadcast(bloom))  # 1-row filter table: scalar attach
        .filter(
            ~bloom_contains(fp, F.col("bloom_words"), m_bits, k, portable=True)
        )
        .select("doc_id", "lang")
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


@register(
    "x149_cms_heavy_hitters",
    f"""
WITH tok AS (
  SELECT UNNEST(string_split({_NORM_SQL}, ' ')) AS token FROM documents
), cnt AS (
  SELECT token, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE length(token) > 0 GROUP BY token
), hrows AS (SELECT * FROM (VALUES (0),(1),(2),(3)) r(j)),
buck AS (
  SELECT r.j,
         CAST('0x' || substring(
                md5(CAST(r.j AS VARCHAR) || ':' || c.token), 1, 8)
              AS BIGINT) % 16 AS b,
         c.token, c.c
  FROM cnt c CROSS JOIN hrows r
), sketch AS (
  SELECT j, b, CAST(sum(c) AS BIGINT) AS s FROM buck GROUP BY j, b
), est AS (
  SELECT bu.token, min(sk.s) AS est_count
  FROM buck bu JOIN sketch sk ON bu.j = sk.j AND bu.b = sk.b
  GROUP BY bu.token
)
SELECT token, CAST(est_count AS BIGINT) AS est_count
FROM est WHERE est_count >= 50
""",
)
def x149_cms_heavy_hitters(spark, sf_dir):
    # Count-min-sketch heavy hitters: build a 4x16 counter grid over
    # token frequencies in one hash-agg pass, then read every distinct
    # token's one-sided estimate back off the broadcast grid (min over
    # the 4 rows) and keep est >= 50.  The deliberately tiny width
    # forces real collisions, so estimates OVERSHOOT exact counts for
    # colliding tokens -- and the DuckDB oracle reproduces the exact
    # same grid because buckets come from md5 hex (cms_bucket ==
    # hash_bucket's portable spelling), making this the sketch-family
    # query whose approximation error is itself hash-checked rather
    # than bound-tested.  Scale: grid build is one narrow pass with
    # map-side partial agg (<= depth*width rows shipped per
    # partition); the probe join broadcasts the grid (always <=
    # depth*width rows); mergeable across shards by cell-wise sum.
    from dirty_js_etl_spark.operators.sketch import cms_estimate, cms_sketch
    from dirty_js_etl_spark.operators.text import tokens

    depth, width = 4, 16
    docs = _cat(spark, sf_dir).read("documents")
    cnt = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sk = cms_sketch(cnt, "token", "c", depth=depth, width=width)
    est = cms_estimate(
        cnt.select("token"), sk, "token", depth=depth, width=width
    )
    return est.filter(F.col("est_count") >= 50)


@register(
    "x150_streaming_cms",
    """
WITH cnt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type
), hrows AS (SELECT * FROM (VALUES (0),(1),(2),(3)) r(j)),
buck AS (
  SELECT r.j,
         CAST('0x' || substring(
                md5(CAST(r.j AS VARCHAR) || ':' || c.event_type), 1, 8)
              AS BIGINT) % 8 AS b,
         c.event_type, c.c
  FROM cnt c CROSS JOIN hrows r
), sketch AS (
  SELECT j, b, CAST(sum(c) AS BIGINT) AS s FROM buck GROUP BY j, b
)
SELECT bu.event_type, CAST(min(sk.s) AS BIGINT) AS est_count
FROM buck bu JOIN sketch sk ON bu.j = sk.j AND bu.b = sk.b
GROUP BY bu.event_type
""",
)
def x150_streaming_cms(spark, sf_dir):
    # Streaming sketch rollup: each micro-batch folds its event-type
    # counts into a constant-size CMS grid via foreachBatch (cell-wise
    # sum -- the mergeability that makes sketches the streaming-native
    # frequency state).  Because the merge is exactly associative over
    # integer counts, the drained stream's grid is bit-identical to a
    # one-shot batch build, so a STREAMING approximate operator gets a
    # full hash-checked SQL oracle (the DuckDB grid from the same
    # portable md5 buckets).  State stays <= depth*width rows no
    # matter how much data flows -- contrast per-key stateful counting
    # whose state tracks cardinality.
    from dirty_js_etl_spark.streaming.sketch import run_stream_cms

    name = f"stream_cms_{next(_STREAM_COUNTER)}"
    return run_stream_cms(
        spark, sf_dir, depth=4, width=8, query_name=name
    )


@register(
    "x151_incremental_dedup",
    f"""
WITH newb AS (
  SELECT doc_id, md5({_NORM_SQL}) AS fp
  FROM documents WHERE doc_id % 10 = 0
), corpus AS (
  SELECT DISTINCT md5({_NORM_SQL}) AS fp
  FROM documents WHERE doc_id % 10 <> 0
), keep AS (
  SELECT doc_id, fp,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM newb
)
SELECT k.doc_id, k.fp FROM keep k LEFT JOIN corpus c ON k.fp = c.fp
WHERE k.rn = 1 AND c.fp IS NULL
""",
)
def x151_incremental_dedup(spark, sf_dir):
    # Daily-ingest dedup: screen the new batch (doc_id % 10 == 0)
    # against the curated corpus (the rest) by exact fingerprint, and
    # within-batch keep the smallest id per fingerprint.  The pipeline
    # never re-deduplicates history to admit a delta: narrow (id, fp)
    # projections on both sides, one fp-keyed window + one plain
    # shuffle anti join, no forced broadcasts (both relations are
    # data-scaled; AQE may still choose broadcast for a small batch).
    from dirty_js_etl_spark.operators.dedup import incremental_dedup

    docs = _cat(spark, sf_dir).read("documents")
    return incremental_dedup(
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter(F.col("doc_id") % 10 != 0),
    )


