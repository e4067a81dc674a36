"""Text and corpus-pipeline queries (``operators/text.py``,
``operators/corpus.py``, ``operators/bpe.py``).

Token counts, quality scores, language id, TF-IDF / BM25, n-gram
language-model quality, decontamination, sequence packing, sampling,
vocabularies, profiling, repetition statistics, PII scrubbing of
documents, sub-document dedup, BPE vocabulary learning, mixture budgets
and training shuffles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries._shared import _NORM_SQL, _cat, register


@register(
    "x2_token_count",
    f"SELECT doc_id, CAST(length(string_split({_NORM_SQL}, ' ')) AS INT) AS n_tokens "
    "FROM documents",
)
def x2_token_count(spark, sf_dir):
    from dirty_js_etl_spark.operators.text import token_count

    docs = _cat(spark, sf_dir).read("documents")
    return docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


@register(
    "x3_text_quality",
    """
WITH feat AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CAST(greatest(length(text), 1) AS DOUBLE) AS denom,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
), feat2 AS (
  SELECT doc_id, n_chars, n_alpha / denom AS alpha_ratio,
         len(list_filter(toks, t -> list_contains(
            ['the','a','an','and','or','of','to','in','is','it'], t)))
           / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio
  FROM feat
)
SELECT doc_id, alpha_ratio,
       stopword_ratio,
       round(alpha_ratio * 0.4 + stopword_ratio * 0.3 +
             (CASE WHEN n_chars BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END) * 0.3,
             6) AS quality
FROM feat2
""",
)
def x3_text_quality(spark, sf_dir):
    from dirty_js_etl_spark.operators.text import quality_score, text_stats

    docs = _cat(spark, sf_dir).read("documents")
    col = F.col("text")
    s = text_stats(col)
    return docs.select(
        "doc_id",
        # raw integer-count ratios, no decimal re-round (kmv
        # discipline; quality keeps its round --
        # the weighted sum's decimal literals differ across engines)
        s["alpha_ratio"].alias("alpha_ratio"),
        s["stopword_ratio"].alias("stopword_ratio"),
        quality_score(col).alias("quality"),
    )


# language-id oracle mirrors LANG_MARKERS + declaration-order tie-break
_X4_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), scores AS (
  SELECT doc_id,
    len(list_filter(w, t -> list_contains(['the','a','and','of','is'], t))) AS s_en,
    len(list_filter(w, t -> list_contains(['der','die','das','und','ist'], t))) AS s_de,
    len(list_filter(w, t -> list_contains(['le','la','les','et','est'], t))) AS s_fr,
    len(list_filter(w, t -> list_contains(['el','los','las','y','es'], t))) AS s_es,
    len(list_filter(w, t -> list_contains(['的','了','是'], t))) AS s_zh
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) <= 0 THEN 'und'
       WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'en'
       WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'de'
       WHEN s_fr = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'fr'
       WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'es'
       ELSE 'zh' END AS lang_pred
FROM scores
"""


@register("x4_lang_id", _X4_SQL)
def x4_lang_id(spark, sf_dir):
    from dirty_js_etl_spark.operators.text import lang_id

    docs = _cat(spark, sf_dir).read("documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


_X45_SQL = """
WITH words AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), grams AS (
  SELECT doc_id, UNNEST(list_distinct(list_transform(
           range(1, greatest(len(w) - 3 + 1, 1) + 1),
           i -> array_to_string(w[i:i+2], ' ')))) AS g
  FROM words
), eval_grams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0
), hits AS (
  SELECT c.doc_id, count(*) AS n_hit_grams
  FROM grams c JOIN eval_grams e ON c.g = e.g
  WHERE c.doc_id % 20 <> 0
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
       coalesce(h.n_hit_grams, 0) >= 5 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 20 <> 0
"""


@register("x45_decontaminate", _X45_SQL)
def x45_decontaminate(spark, sf_dir):
    # eval-set decontamination: held-out docs (doc_id % 20 = 0) play the
    # benchmark; their distinct 3-grams broadcast against the corpus
    from dirty_js_etl_spark.operators.corpus import decontaminate

    docs = _cat(spark, sf_dir).read("documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    eval_set = docs.filter(F.col("doc_id") % 20 == 0)
    return decontaminate(corpus, eval_set, n=3, min_hits=5)


@register(
    "x46_pack_sequences",
    f"""
WITH t AS (
  SELECT lang, doc_id,
         CAST(length(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT lang, doc_id, n_tokens,
       CAST(coalesce(sum(n_tokens) OVER (
         PARTITION BY lang ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS offset,
       CAST(floor(coalesce(sum(n_tokens) OVER (
         PARTITION BY lang ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0)
         AS BIGINT) AS seq_id
FROM t
""",
)
def x46_pack_sequences(spark, sf_dir):
    # concatenate-then-chunk packing into 2048-token sequences per lang
    from dirty_js_etl_spark.operators.corpus import pack_sequences
    from dirty_js_etl_spark.operators.text import token_count

    docs = _cat(spark, sf_dir).read("documents")
    return pack_sequences(
        docs, "doc_id", token_count(F.col("text")), 2048, ["lang"]
    )


@register(
    "x47_stratified_sample",
    """
SELECT doc_id, lang, source
FROM documents
WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      % 100 <
      CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50 WHEN 'fr' THEN 20
                ELSE 10 END
""",
)
def x47_stratified_sample(spark, sf_dir):
    # hash-keyed domain mixing: keep 100% en / 50% de / 20% fr / 10% rest
    from dirty_js_etl_spark.operators.corpus import stratified_sample

    docs = _cat(spark, sf_dir).read("documents")
    return stratified_sample(
        docs.select("doc_id", "lang", "source"),
        "doc_id",
        "lang",
        {"en": 1.0, "de": 0.5, "fr": 0.2},
        default_rate=0.1,
    )


@register(
    "x48_vocab_topk",
    f"""
WITH tok AS (
  SELECT UNNEST(string_split({_NORM_SQL}, ' ')) AS token FROM documents
)
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM tok WHERE length(token) > 0
GROUP BY token
ORDER BY cnt DESC, token ASC
LIMIT 50
""",
)
def x48_vocab_topk(spark, sf_dir):
    from dirty_js_etl_spark.operators.corpus import vocab_topk

    docs = _cat(spark, sf_dir).read("documents")
    return vocab_topk(docs, "text", k=50)


@register(
    "x49_profile_table",
    """
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders)
SELECT 'o_orderkey' AS col_name, n.n_rows,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(min(o_orderkey) AS VARCHAR) AS min_val,
       CAST(max(o_orderkey) AS VARCHAR) AS max_val
FROM orders, n GROUP BY n.n_rows
UNION ALL
SELECT 'o_orderstatus', n.n_rows,
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
       min(o_orderstatus), max(o_orderstatus)
FROM orders, n GROUP BY n.n_rows
UNION ALL
SELECT 'o_orderpriority', n.n_rows,
       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_orderpriority) AS BIGINT),
       min(o_orderpriority), max(o_orderpriority)
FROM orders, n GROUP BY n.n_rows
""",
)
def x49_profile_table(spark, sf_dir):
    from dirty_js_etl_spark.operators.corpus import profile_table

    orders = _cat(spark, sf_dir).read("orders")
    return profile_table(
        orders, ["o_orderkey", "o_orderstatus", "o_orderpriority"]
    )


@register(
    "x50_repetition_stats",
    f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split({_NORM_SQL}, ' ')) AS token
  FROM documents
), per AS (
  SELECT doc_id, token, count(*) AS cnt FROM tok
  WHERE length(token) > 0 GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       count(*) / CAST(sum(cnt) AS DOUBLE) AS distinct_ratio,
       max(cnt) / CAST(sum(cnt) AS DOUBLE) AS top_token_share
FROM per GROUP BY doc_id
""",
)
def x50_repetition_stats(spark, sf_dir):
    from dirty_js_etl_spark.operators.corpus import repetition_stats

    docs = _cat(spark, sf_dir).read("documents")
    return repetition_stats(docs)


@register(
    "x51_pii_redact",
    """
WITH s AS (
  SELECT c_custkey,
         c_name || ' <u' || CAST(c_custkey AS VARCHAR)
                || '@example.com> card 4111 1111 1111 '
                || CAST(1000 + c_custkey % 9000 AS VARCHAR) AS text
  FROM customer
)
SELECT c_custkey,
       regexp_replace(
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '[0-9][0-9 .-]{6,}[0-9]', '<NUM>', 'g') AS clean_text,
       CAST(length(regexp_split_to_array(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) - 1 AS INT)
         AS n_emails,
       CAST(length(regexp_split_to_array(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9][0-9 .-]{6,}[0-9]')) - 1 AS INT) AS n_numbers
FROM s
""",
)
def x51_pii_redact(spark, sf_dir):
    # synthetic PII (email + card shape) stitched onto customer rows so
    # the redaction path is exercised on real data volumes
    from dirty_js_etl_spark.operators.corpus import pii_report

    cust = _cat(spark, sf_dir).read("customer")
    text = F.concat(
        F.col("c_name"),
        F.lit(" <u"),
        F.col("c_custkey").cast("string"),
        F.lit("@example.com> card 4111 1111 1111 "),
        (1000 + F.col("c_custkey") % 9000).cast("string"),
    )
    return pii_report(cust, "c_custkey", text)


def _x217_oracle_sql(n_buckets: int = 64, seed: int = 42) -> str:
    from dirty_js_etl_spark.operators.text import hashed_linear_weights

    ws = hashed_linear_weights(n_buckets, seed)
    vals = ", ".join(f"({b}, {w})" for b, w in enumerate(ws))
    return f"""
WITH w(b, wt) AS (VALUES {vals}),
tok AS (
  SELECT doc_id, UNNEST(string_split(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
  FROM documents
), bk AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % {n_buckets} AS b
  FROM tok WHERE t IS NOT NULL AND t <> ''
), s AS (
  SELECT doc_id, count(*) AS n_tokens, sum(wt) AS score_num
  FROM bk JOIN w USING (b) GROUP BY doc_id
)
SELECT d.doc_id AS id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.score_num, 0) AS BIGINT) AS score_num,
       CASE WHEN coalesce(s.n_tokens, 0) > 0
            THEN CAST(s.score_num AS DOUBLE)
                 / (CAST(1000 AS DOUBLE) * CAST(s.n_tokens AS DOUBLE))
            ELSE 0.0 END AS score,
       coalesce(s.score_num, 0) > 0 AS keep
FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
"""


@register("x217_quality_linear_scorer", _x217_oracle_sql())
def x217_quality_linear_scorer(spark, sf_dir):
    # the fastText-style quality FILTER every LLM data pipeline runs
    # before training: hashed bag-of-words features x quantized linear
    # weights -> keep/drop by the margin's sign. Weights are integers
    # (seed-derived here, standing in for a trained model quantized the
    # same way), the accumulation is an exact integer sum — so the score
    # is bit-reproducible across engines AND across cluster sizes /
    # shuffle orders (a float dot product would drift with partitioning;
    # a filter whose membership changes when the cluster resizes is a
    # training-data bug). One explode + one map-side-combined groupBy;
    # the weight lookup is element_at on a plan-literal array inside
    # codegen — no UDF, no join on the corpus side.
    from dirty_js_etl_spark.operators.text import hashed_linear_score

    docs = _cat(spark, sf_dir).read("documents")
    return hashed_linear_score(docs, "doc_id", "text", n_buckets=64, seed=42)


_X60_SQL = f"""
WITH feat AS (
  SELECT doc_id, lang, source,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
         CAST(length(string_split(regexp_replace(lower(trim(text)),
             '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
           / CAST(greatest(length(text), 1) AS DOUBLE) AS alpha_ratio
  FROM documents
), quality AS (
  SELECT * FROM feat WHERE n_tokens >= 30 AND alpha_ratio > 0.5
), dedup AS (
  SELECT min(doc_id) AS doc_id, min(lang) AS lang, min(source) AS source,
         min(n_tokens) AS n_tokens
  FROM quality GROUP BY md5(norm)
), sampled AS (
  SELECT * FROM dedup
  WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        % 100 < CASE lang WHEN 'en' THEN 100 ELSE 50 END
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM sampled GROUP BY lang, source
"""


@register("x60_curate_corpus", _X60_SQL)
def x60_curate_corpus(spark, sf_dir):
    """End-to-end curation: quality filter -> exact dedup (keep lowest
    doc_id) -> hash-stratified sample (100% en / 50% rest) -> per
    (lang, source) doc+token counts. The composition is the point: each
    stage is one of the engine's operators chained on one DataFrame."""
    from dirty_js_etl_spark.operators.corpus import stratified_sample
    from dirty_js_etl_spark.operators.text import (
        normalize_text,
        token_count,
    )

    docs = _cat(spark, sf_dir).read("documents")
    feat = docs.select(
        "doc_id",
        "lang",
        "source",
        normalize_text(F.col("text")).alias("norm"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        (
            F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
            / F.greatest(F.length("text"), F.lit(1)).cast("double")
        ).alias("alpha_ratio"),
    )
    quality = feat.filter(
        (F.col("n_tokens") >= 30) & (F.col("alpha_ratio") > 0.5)
    )
    dedup = quality.groupBy(F.md5("norm")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("lang").alias("lang"),
        F.min("source").alias("source"),
        F.min("n_tokens").alias("n_tokens"),
    )
    sampled = stratified_sample(
        dedup, "doc_id", "lang", {"en": 1.0}, default_rate=0.5
    )
    return sampled.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register(
    "x75_tfidf_topk",
    f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split({_NORM_SQL}, ' ')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok
  WHERE length(token) > 0 GROUP BY 1, 2
), dfreq AS (
  SELECT token, count(*) AS df FROM tf GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token AS term,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rank
FROM ranked WHERE rn <= 3
""",
)
def x75_tfidf_topk(spark, sf_dir):
    from dirty_js_etl_spark.operators.text import tfidf_topk

    docs = _cat(spark, sf_dir).read("documents")
    return tfidf_topk(docs, "doc_id", "text", k=3)


@register(
    "x85_chunk_documents",
    f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
), c AS (
  SELECT doc_id, toks,
         greatest(CAST(ceil((len(toks) - 50) / 40.0) AS INT), 0) + 1 AS nc
  FROM t
)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       array_to_string(list_slice(toks, i * 40 + 1, i * 40 + 50), ' ')
         AS chunk_text,
       CAST(len(list_slice(toks, i * 40 + 1, i * 40 + 50)) AS INT)
         AS n_chunk_tokens
FROM c, UNNEST(generate_series(0, nc - 1)) AS s(i)
""",
)
def x85_chunk_documents(spark, sf_dir):
    # overlapping token-window chunking (50-token chunks, stride 40):
    # the context-window splitting step of a training/RAG pipeline.
    # Entirely array expressions + posexplode -- map-only, no shuffle;
    # output rows ~= corpus_tokens / stride regardless of doc skew, so
    # a 1M-token document costs its own partition time but never a
    # repartition.
    from dirty_js_etl_spark.operators.text import tokens

    docs = _cat(spark, sf_dir).read("documents")
    toks = tokens(F.col("text"))
    nc = (
        F.greatest(
            F.ceil((F.size(toks) - 50) / F.lit(40.0)).cast("int"), F.lit(0)
        )
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), nc - 1),
        lambda i: F.slice(toks, i * 40 + 1, 50),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_id", "ch"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.concat_ws(" ", F.col("ch")).alias("chunk_text"),
            F.size("ch").cast("int").alias("n_chunk_tokens"),
        )
    )


@register(
    "x90_ngram_corpus_dedup",
    f"""
WITH tok AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
), grams AS (
  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
  FROM tok, UNNEST(generate_series(1, len(toks) - 7)) AS s(i)
  WHERE len(toks) >= 8
)
SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
""",
)
def x90_ngram_corpus_dedup(spark, sf_dir):
    # Exact duplicated-substring detection (the Lee et al. "exact
    # substring dedup" signal): every 8-token shingle that appears in
    # >= 2 distinct documents.  Map-side generator expand (sequence ->
    # transform -> explode, no join), then ONE hash aggregate keyed on
    # the gram; distinct-doc counting is a partial-agg-friendly
    # count(DISTINCT).  At 100 TB the gram key space is huge but
    # uniformly hashable -- no skew; band the gram through a 64-bit
    # xxhash before the shuffle if gram strings dominate shuffle bytes.
    from dirty_js_etl_spark.operators.text import tokens

    n = 8
    d = (
        _cat(spark, sf_dir)
        .read("documents")
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= n)
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1)),
                lambda i: F.array_join(F.slice("toks", i, n), " "),
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "x97_token_search",
    f"""
WITH tok AS (
  SELECT doc_id, UNNEST(list_distinct(string_split({_NORM_SQL}, ' '))) AS t
  FROM documents
), hits AS (
  SELECT doc_id FROM tok WHERE t IN ('data', 'merge', 'scan')
  GROUP BY doc_id HAVING count(*) = 3
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN hits USING (doc_id)
""",
)
def x97_token_search(spark, sf_dir):
    # Inverted-index AND-search: documents containing ALL query terms.
    # Explode -> filter to the 3 query tokens (pushed into the scan's
    # generator output, so the shuffle carries only matching postings)
    # -> one count aggregate with HAVING = |query|.  This is the
    # conjunctive-postings-intersection plan of a search engine,
    # expressed as groupBy; at 100 TB the posting explode is map-side
    # and the shuffle is proportional to matches, not corpus size.
    from dirty_js_etl_spark.operators.text import tokens

    terms = ["data", "merge", "scan"]
    docs = _cat(spark, sf_dir).read("documents")
    postings = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("t"),
    ).filter(F.col("t").isin(terms))
    hits = (
        postings.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") == len(terms))
        .select("doc_id")
    )
    return docs.join(hits, "doc_id").select("doc_id", "lang", "n_chars")


@register(
    "x100_weighted_sample",
    """
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         CAST(n_chars AS DOUBLE) /
         (CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS DOUBLE) + 1.0) AS k
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, lang, n_chars FROM keyed ORDER BY k DESC, doc_id LIMIT 50
""",
)
def x100_weighted_sample(spark, sf_dir):
    # Weighted sample (weight = n_chars): longer documents are
    # proportionally more likely to be kept.  The Pareto-race key w/u
    # is ONE correctly-rounded IEEE division of exact integers, so the
    # DuckDB oracle reproduces the ranking bit-for-bit (the previous
    # A-Res u^(1/w) key rode non-correctly-rounded pow and was
    # rows-only); distributional properties stay pinned by
    # test_corpus.py (equal weights == hash sample, determinism under
    # repartitioning, monotone inclusion in weight).
    from dirty_js_etl_spark.operators.corpus import weighted_sample

    docs = _cat(spark, sf_dir).read("documents")
    return weighted_sample(
        docs.select("doc_id", "lang", "n_chars"), "doc_id", "n_chars", 50
    )


@register(
    "x107_char_entropy",
    """
WITH chars AS (
  SELECT doc_id, substring(txt, i, 1) AS ch
  FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS txt
        FROM documents) t,
       UNNEST(generate_series(1, length(txt))) AS s(i)
), freq AS (
  SELECT doc_id, ch, count(*) AS cnt FROM chars GROUP BY doc_id, ch
), tot AS (
  SELECT doc_id, sum(cnt) AS total FROM freq GROUP BY doc_id
)
SELECT f.doc_id,
       round(-sum((CAST(cnt AS DOUBLE) / total)
                  * ln(CAST(cnt AS DOUBLE) / total)), 6) + 0.0 AS entropy,
       CAST(count(*) AS BIGINT) AS alphabet_size
FROM freq f JOIN tot USING (doc_id)
GROUP BY f.doc_id
""",
)
def x107_char_entropy(spark, sf_dir):
    # Character-unigram Shannon entropy per document -- a cheap,
    # language-agnostic quality/gibberish signal (near-zero = repeated
    # filler, high = noise).  Explode-to-chars is a map-side generator;
    # two hash aggregates keyed by doc_id share one shuffle.  The ~30
    # p*ln(p) terms per doc are summed in double and rounded to 6 dp
    # (the repo's transcendental-output rule).
    from dirty_js_etl_spark.operators.text import normalize_text

    docs = _cat(spark, sf_dir).read("documents")
    chars = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), "")).alias("ch"),
    ).filter(F.length("ch") > 0)
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.groupBy("doc_id").agg(F.sum("cnt").alias("total"))
    p = F.col("cnt").cast("double") / F.col("total")
    return (
        freq.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            (F.round(-F.sum(p * F.log(p)), 6) + F.lit(0.0)).alias("entropy"),
            F.count(F.lit(1)).alias("alphabet_size"),
        )
    )


@register(
    "x120_shard_assignment",
    f"""
WITH d AS (
  SELECT doc_id, length(string_split({_NORM_SQL}, ' ')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS before_t,
         (SELECT sum(n_tokens) FROM d) AS total_t
  FROM d
)
SELECT CAST(least(before_t * 8 // total_t, 7) AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM c GROUP BY 1
""",
)
def x120_shard_assignment(spark, sf_dir):
    # Token-balanced shard assignment: docs stream in deterministic
    # doc_id order and each is routed to shard floor(tokens_before /
    # (total/8)) -- every shard gets ~total/8 tokens regardless of doc
    # length skew (integer math throughout: before*8 DIV total).  This
    # is how a pretraining corpus is cut into equal-work shards.  The
    # running sum is a distributed prefix sum (operators/ranking.py):
    # docs range-partition on doc_id, each partition sweeps locally and
    # adds its broadcast carry offset -- exactly the "per-range token
    # offsets" plan, so no global sort at any scale.
    from dirty_js_etl_spark.operators.ranking import with_global_prefix_sum
    from dirty_js_etl_spark.operators.text import token_count

    docs = _cat(spark, sf_dir).read("documents")
    d = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    total = d.agg(F.sum("n_tokens").alias("total_t"))
    c = (
        with_global_prefix_sum(d, ["doc_id"], "n_tokens", "__cum")
        .withColumn("before_t", F.col("__cum") - F.col("n_tokens"))
        .crossJoin(F.broadcast(total))
    )
    return (
        c.select(
            F.least(
                F.expr("before_t * 8 DIV total_t"), F.lit(7)
            ).cast("int").alias("shard"),
            "n_tokens",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
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


@register(
    "x188_repeated_spans",
    """
WITH g AS (
  SELECT d.doc_id, s.off,
         least(40, length(d.text) - s.off + 1) AS glen,
         hash(substr(d.text, s.off, 40)) AS h
  FROM documents d,
       LATERAL (SELECT unnest(range(1, greatest(length(d.text) - 40 + 1, 1) + 1, 10)) AS off) s
), rep AS (
  SELECT doc_id, off, glen FROM g
  WHERE h IN (SELECT h FROM g GROUP BY h HAVING count(*) >= 2)
), isl AS (
  SELECT doc_id, off, glen,
         max(off + glen) OVER (PARTITION BY doc_id ORDER BY off
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM rep
), cov AS (
  SELECT doc_id,
         sum(greatest(0, off + glen - greatest(off, coalesce(prev_end, 0))))
           AS repeated_chars
  FROM isl GROUP BY doc_id
)
SELECT d.doc_id AS id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       CAST(coalesce(c.repeated_chars, 0) AS BIGINT) AS repeated_chars,
       CAST(coalesce(c.repeated_chars, 0) AS DOUBLE) / length(d.text)
         AS repeated_ratio
FROM documents d LEFT JOIN cov c USING (doc_id)
""",
)
def x188_repeated_spans(spark, sf_dir):
    # exact-substring duplication coverage (Lee et al. 2022 ExactSubstr
    # signal) via strided 40-char fingerprints + per-doc interval union.
    # Each engine hashes the window text with its own 64-bit hash
    # (xxhash64 / DuckDB hash) — only same-engine equality matters, so
    # the coverage numbers agree. Map-only fingerprint explode, one
    # fingerprint-keyed agg, one doc-keyed window (see
    # corpus.repeated_span_coverage for the 100 TB profile).
    from dirty_js_etl_spark.operators.corpus import repeated_span_coverage

    docs = _cat(spark, sf_dir).read("documents")
    return repeated_span_coverage(docs, "doc_id", "text")


@register(
    "x189_training_shuffle",
    """
WITH h AS (
  SELECT doc_id AS id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15))
              AS BIGINT) AS hkey
  FROM documents
)
SELECT id, CAST(hkey % 8 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY hkey % 8 ORDER BY hkey, id) - 1
            AS BIGINT) AS pos
FROM h
""",
)
def x189_training_shuffle(spark, sf_dir):
    # deterministic epoch shuffle: content-hash shard + per-shard
    # position (same seed -> identical order on any partitioning; new
    # seed -> independent permutation). ONE shuffle keyed by the
    # uniform shard, per-shard ordering window — no global sort. The
    # md5-hex-prefix -> BIGINT key is engine-portable (15 hex chars
    # < 2^60; Spark conv == DuckDB '0x' cast, probed exactly).
    from dirty_js_etl_spark.operators.corpus import training_shuffle

    docs = _cat(spark, sf_dir).read("documents")
    return training_shuffle(docs, "doc_id", n_shards=8, seed=7)


@register(
    "x190_ngram_novelty",
    r"""
WITH norm AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
              ELSE array_to_string(w[i : i + 2], ' ') END AS g
  FROM norm,
       LATERAL (SELECT unnest(range(1, greatest(len(w) - 3 + 1, 1) + 1)) AS i) s
), first AS (
  SELECT g, min(doc_id) AS first_id FROM grams GROUP BY g
)
SELECT grams.doc_id AS id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN first_id = grams.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS novel_grams,
       CAST(sum(CASE WHEN first_id = grams.doc_id THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*) AS novelty_ratio
FROM grams JOIN first USING (g)
GROUP BY grams.doc_id
""",
)
def x190_ngram_novelty(spark, sf_dir):
    # corpus-freshness profile: per doc, the share of its distinct word
    # 3-grams first seen (min doc_id) in that doc — the diminishing-
    # returns diagnostic for whether more of a source still adds new
    # text. Map-only gram explode, one gram-keyed agg, one id-keyed agg.
    from dirty_js_etl_spark.operators.corpus import ngram_novelty

    docs = _cat(spark, sf_dir).read("documents")
    return ngram_novelty(docs, "doc_id", "text", n=3)
