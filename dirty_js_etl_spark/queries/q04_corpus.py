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

# ---------------------------------------------------------------------------
# M4 extensions: dedup / similarity / text analysis / events / multimodal
# (SURVEY.md §2.3 extension rows; BASELINE.json north star)
# ---------------------------------------------------------------------------

# normalized text, both engines: lower + trim + collapse whitespace
_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


@register(
    "x1_dedup_exact",
    f"SELECT md5({_NORM_SQL}) AS dedup_key, "
    "CAST(min(doc_id) AS BIGINT) AS keeper_id, "
    "CAST(count(*) AS BIGINT) AS n_docs "
    "FROM documents GROUP BY 1",
)
def x1_dedup_exact(spark, sf_dir):
    from dirty_js_etl_spark.operators.dedup import dedup_exact_groups
    from dirty_js_etl_spark.operators.text import fingerprint_md5

    docs = _cat(spark, sf_dir).read("documents")
    return dedup_exact_groups(docs, fingerprint_md5(F.col("text")), "doc_id")


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


# exact n-gram Jaccard near-dup pairs — fully SQL-expressible, so the
# oracle verifies both candidate generation and the Jaccard math
_X5_SQL = """
WITH words AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), shingles AS (
  SELECT doc_id, UNNEST(list_distinct(list_transform(
           range(1, greatest(len(w) - 3 + 1, 1) + 1),
           i -> array_to_string(w[i:i+2], ' ')))) AS g
  FROM words
), capped AS (
  SELECT g FROM shingles GROUP BY g HAVING count(*) <= 1000
), kept AS (
  SELECT s.doc_id, s.g FROM shingles s JOIN capped c ON s.g = c.g
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5
"""


@register("x5_ngram_jaccard_pairs", _X5_SQL)
def x5_ngram_jaccard_pairs(spark, sf_dir):
    from dirty_js_etl_spark.operators.dedup import ngram_jaccard_pairs

    docs = _cat(spark, sf_dir).read("documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=3,
                               jaccard_threshold=0.5)


@register("x6_minhash_lsh_pairs", None)  # approximate -> rows-only check
def x6_minhash_lsh_pairs(spark, sf_dir):
    from dirty_js_etl_spark.operators.dedup import minhash_lsh_pairs

    docs = _cat(spark, sf_dir).read("documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", jaccard_threshold=0.5)


def _x6b_oracle_sql(
    num_perm: int = 32,
    bands: int = 8,
    cap: int = 1000,
    seed: int = 42,
) -> str:
    """DuckDB recomputation of the FULL MinHash+LSH pipeline — portable
    60-bit md5 shingle hashes, the (a*h+b) mod P signature family with
    the SAME seeded constants as the Spark plan, md5-derived band
    buckets, the hot-bucket cap, and the count-based exact-Jaccard
    verify — so the flagship near-dup operator has a value-checked
    variant alongside the xxhash64 production default (x6, rows-only).
    All arithmetic is integer (a*h < 2^62, no overflow on either
    engine) and both engines hash the identical bytes, so the candidate
    set and every jaccard agree bit-for-bit."""
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
), ok AS (
  SELECT band, bucket FROM banded GROUP BY 1, 2 HAVING count(*) <= {cap}
), kept AS (
  SELECT b.* FROM banded b JOIN ok USING (band, bucket)
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM hashed GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cands c
  JOIN hashed ha ON ha.doc_id = c.id_a
  JOIN hashed hb ON hb.doc_id = c.id_b AND hb.h60 = ha.h60
  GROUP BY 1, 2
), scored AS (
  SELECT id_a, id_b,
         i / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
"""


@register("x6b_minhash_lsh_portable", _x6b_oracle_sql())
def x6b_minhash_lsh_portable(spark, sf_dir):
    # the same MinHash+LSH pipeline as x6 over engine-portable hashes
    # (md5-60bit shingles + md5-derived band buckets), so signatures,
    # banding, the hot-bucket cap, candidate generation, AND the exact
    # verify are all recomputed and hash-checked by the oracle; x6
    # stays on xxhash64 (faster) with its rows-only check
    from dirty_js_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        portable_token_hash60,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_perm=32,
        bands=8,
        jaccard_threshold=0.5,
        hash_fn=portable_token_hash60,
        portable_bands=True,
    )


# components replay: UNROLLED min-label pointer-jumping rounds instead
# of the recursive-CTE label walk (r11 — the walk enumerated every
# (node, smaller-reachable-label) pair, O(Σ cluster²) rows; at the sf1
# replica's 250k-pair graph one query ran >585 s in DuckDB where 8
# unrolled rounds run in seconds). Each round takes the min label over
# the in-neighborhood, then jumps to the label's own label — reach
# doubles per round, so 8 rounds are exact for any component diameter
# ≤ 2^8 = 256 (document near-dup cliques are diameter ≤ ~10; rounds
# beyond convergence are no-op scans over an already-fixed label
# table, so going 6 → 8 costs ~nothing and removes a false-alarm mode
# on long duplicate chains). SAFE-FAIL: if a graph ever exceeded even
# that, the oracle would NOT silently agree — the unconverged labels
# would hash-mismatch the engine's converged ones and the sweep would
# flag it.
def _cc_rounds_sql(rounds: int = 8) -> tuple[str, str]:
    ctes = []
    prev = "l0"
    for k in range(1, rounds + 1):
        ctes.append(f"""s{k} AS MATERIALIZED (
  SELECT l.id, least(l.label, coalesce(min(w.label), l.label)) AS label
  FROM {prev} l
  LEFT JOIN edges e ON e.src = l.id
  LEFT JOIN {prev} w ON w.id = e.dst
  GROUP BY l.id, l.label
), l{k} AS MATERIALIZED (
  SELECT s.id, least(s.label, coalesce(p.label, s.label)) AS label
  FROM s{k} s LEFT JOIN s{k} p ON p.id = s.label
)""")
        prev = f"l{k}"
    return ",\n".join(ctes), prev


_X36_ROUNDS, _X36_LAST = _cc_rounds_sql(8)

_X36_CTE = """
WITH pairs AS MATERIALIZED (
""" + _X5_SQL + """
), nodes AS (
  SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
), edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), l0 AS MATERIALIZED (
  SELECT id, id AS label FROM nodes
), """ + _X36_ROUNDS + """, clusters AS (
  SELECT id, label AS cluster_id FROM """ + _X36_LAST + """
)"""

_X36_SQL = _X36_CTE + "\nSELECT id, cluster_id FROM clusters"


@register("x36_dup_clusters", _X36_SQL)
def x36_dup_clusters(spark, sf_dir):
    # connected components over the exact n-gram near-dup pairs; the
    # oracle walks the same graph with a recursive CTE (labels reach
    # every node reachable via decreasing-minimum paths)
    from dirty_js_etl_spark.operators.dedup import dup_clusters, ngram_jaccard_pairs

    docs = _cat(spark, sf_dir).read("documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=3,
                                jaccard_threshold=0.5)
    return dup_clusters(pairs)


def _x7_oracle_sql(
    n_chunks: int = 4, chunk_bits: int = 15, cap: int = 1000, maxham: int = 3
) -> str:
    """DuckDB recomputation of the FULL simhash pipeline — signatures
    (portable 60-bit md5 token hash, per-bit +1/-1 votes), pigeonhole
    chunk join, the hot-bucket cap, and exact hamming — so x7 is
    hash-checked end to end (the banding IS SQL-expressible once the
    token hash is engine-portable)."""
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {c * chunk_bits + i}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS v_{c}_{i}"
        for c in range(n_chunks)
        for i in range(chunk_bits)
    )
    sigs = ",\n         ".join(
        "("
        + " + ".join(
            f"CASE WHEN v_{c}_{i} > 0 THEN {1 << i} ELSE 0 END"
            for i in range(chunk_bits)
        )
        + f") AS c{c}"
        for c in range(n_chunks)
    )
    chunks_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {c} AS chunk_idx, c{c} AS chunk_val FROM sigs"
        for c in range(n_chunks)
    )
    ham = " + ".join(
        f"bit_count(xor(sa.c{c}, sb.c{c}))" for c in range(n_chunks)
    )
    return f"""
WITH words AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), toks AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(unnest(w)), 1, 15) AS BIGINT) AS h
  FROM words
), votes AS (
  SELECT doc_id,
         {votes}
  FROM toks GROUP BY doc_id
), sigs AS (
  SELECT doc_id,
         {sigs}
  FROM votes
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


@register("x7_simhash_pairs", _x7_oracle_sql())
def x7_simhash_pairs(spark, sf_dir):
    # portable md5-based 60-bit token hash (4 chunks × 15 bits) so the
    # oracle recomputes the identical signature; the production default
    # stays xxhash64 (operators/dedup.py) — same algorithm, faster hash
    from dirty_js_etl_spark.operators.dedup import (
        portable_token_hash60,
        simhash_near_dup_pairs,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return simhash_near_dup_pairs(
        docs,
        "doc_id",
        "text",
        max_hamming=3,
        chunk_bits=15,
        hash_fn=portable_token_hash60,
    )


_X8_SQL = """
WITH c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, c.neighbor_id,
         round(list_cosine_similarity(c.v, q.v), 6) AS score
  FROM c, q WHERE c.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 10
"""


@register("x8_embedding_topk", _X8_SQL)
def x8_embedding_topk(spark, sf_dir):
    from dirty_js_etl_spark.operators.similarity import brute_force_topk

    emb = _cat(spark, sf_dir).read("embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=10)


@register(
    "x9_embedding_near_dup",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
""",
)
def x9_embedding_near_dup(spark, sf_dir):
    from dirty_js_etl_spark.operators.similarity import embedding_near_dup_pairs

    emb = _cat(spark, sf_dir).read("embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.4)


def _lsh_tb_cte() -> str:
    """Shared signature CTE for the x10/x29 oracles.

    The hyperplane LSH in ``operators/similarity.py`` is DETERMINISTIC:
    the planes come from ``numpy.RandomState(7)`` (a frozen legacy
    stream) and are embedded as plan literals, so a second engine can
    replay the whole pipeline — signatures, bucket collisions, verify —
    bit-for-bit. This CTE rebuilds the 16-table × 4-bit signatures in
    DuckDB with LEFT-ASSOCIATED addition chains (``0.0 + v[1]*p1 + …``),
    the exact fold order of ``F.aggregate``: sign decisions near zero
    therefore agree to the last ULP, not merely after rounding. Both
    x10 and x29 use the same (n_tables=16, bits=4, seed=7) planes.
    """
    from dirty_js_etl_spark.operators.similarity import _random_planes

    planes = _random_planes(16 * 4, 64, 7)
    tables = []
    for t in range(16):
        bits = []
        for i in range(4):
            chain = "0.0" + "".join(
                f" + v[{j + 1}]*({c!r})"
                for j, c in enumerate(planes[t * 4 + i])
            )
            bits.append(f"CASE WHEN ({chain}) > 0 THEN {1 << i} ELSE 0 END")
        tables.append("(" + "\n + ".join(bits) + ")")
    bks = ",\n".join(tables)
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings),\n"
        f"sig AS (SELECT vec_id, v, [{bks}] AS bks FROM e),\n"
        "tb AS (SELECT vec_id, v, CAST(g.t AS INT) AS t,"
        " bks[CAST(g.t AS INT) + 1] AS b\n"
        "      FROM sig CROSS JOIN range(16) g(t))\n"
    )


def _x10_oracle_sql() -> str:
    return _lsh_tb_cte() + (
        ", cand AS (\n"
        "  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,\n"
        "         round(list_cosine_similarity(c.v, q.v), 6) AS score\n"
        "  FROM tb c JOIN tb q ON c.t = q.t AND c.b = q.b\n"
        "  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id\n"
        ")\n"
        "SELECT query_id, neighbor_id, score, CAST(rn AS INT) AS rank\n"
        "FROM (SELECT *, row_number() OVER (PARTITION BY query_id\n"
        "      ORDER BY score DESC, neighbor_id) AS rn FROM cand)\n"
        "WHERE rn <= 10"
    )


def _x29_oracle_sql() -> str:
    return _lsh_tb_cte() + (
        "SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,\n"
        "       round(list_cosine_similarity(a.v, c.v), 6) AS cos_sim\n"
        "FROM tb a JOIN tb c\n"
        "  ON a.t = c.t AND a.b = c.b AND a.vec_id < c.vec_id\n"
        "WHERE round(list_cosine_similarity(a.v, c.v), 6) >= 0.4"
    )


@register("x10_similarity_lsh_topk", _x10_oracle_sql())
def x10_similarity_lsh_topk(spark, sf_dir):
    # Hash-checked (round 7): the seeded-plane replay oracle
    # (_lsh_tb_cte) reproduces buckets, candidates, verify, and the
    # (score desc, neighbor_id) rank tie-break exactly — the
    # "approximate" result is a deterministic function of the planes.
    from dirty_js_etl_spark.operators.similarity import lsh_topk

    emb = _cat(spark, sf_dir).read("embeddings")
    return lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=10)


@register("x29_embedding_near_dup_lsh", _x29_oracle_sql())
def x29_embedding_near_dup_lsh(spark, sf_dir):
    from dirty_js_etl_spark.operators.similarity import embedding_near_dup_pairs_lsh

    emb = _cat(spark, sf_dir).read("embeddings")
    # fixture near-dups are weak (cos 0.4-0.5) -> match the band shape
    # to the threshold angle: p=0.65/plane, b=4, L=16 -> ~96% recall.
    # Hash-checked (round 7) via the seeded-plane replay oracle.
    return embedding_near_dup_pairs_lsh(
        emb, threshold=0.4, n_tables=16, bits_per_table=4
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


@register("x18_ivf_topk", None)  # approximate -> rows-only check
def x18_ivf_topk(spark, sf_dir):
    from dirty_js_etl_spark.operators.similarity import ivf_topk

    emb = _cat(spark, sf_dir).read("embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=10, n_probe=6)


@register(
    "x11_events_json",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val "
    "FROM events",
)
def x11_events_json(spark, sf_dir):
    from dirty_js_etl_spark.operators.events import extract_props

    events = _cat(spark, sf_dir).read("events")
    out = extract_props(events, {"k_val": "k"})
    return out.select("event_id", F.col("k_val").cast("int").alias("k_val"))


_X12_CTE = """
WITH ordered AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, ts, value,
         -- date_diff counts second-boundary crossings = whole(ts) -
         -- whole(prev), exactly Spark's unix_timestamp subtraction;
         -- fractional epoch() would disagree on sub-second straddles
         CASE WHEN prev_ts IS NULL
                OR date_diff('second', prev_ts, ts) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM ordered
), numbered AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
"""

_X12_SQL = _X12_CTE + """
SELECT user_id, CAST(user_id * 1000000 + session_seq AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM numbered GROUP BY user_id, session_id
"""


@register("x12_sessionize", _X12_SQL)
def x12_sessionize(spark, sf_dir):
    from dirty_js_etl_spark.operators.events import session_stats

    events = _cat(spark, sf_dir).read("events")
    return session_stats(events, gap_minutes=30)


# as-of join oracle: DuckDB's native ASOF JOIN (the inequality is the
# as-of condition, the equality is the match key) against the same
# derived session-start table
_X21_SQL = _X12_CTE.rstrip() + """,
sessions AS (
  SELECT user_id, CAST(user_id * 1000000 + session_seq AS BIGINT) AS session_id,
         min(ts) AS session_start
  FROM numbered GROUP BY user_id, session_id
)
SELECT e.event_id, e.user_id, s.session_id
FROM events e ASOF LEFT JOIN sessions s
  ON e.user_id = s.user_id AND e.ts >= s.session_start
"""


@register("x21_asof_join", _X21_SQL)
def x21_asof_join(spark, sf_dir):
    # custom operator Spark lacks: backward as-of join (union + one
    # key-shuffle + running last-fill — no range-join explosion); here
    # assigning every event to the session whose start most recently
    # precedes it
    from dirty_js_etl_spark.operators.asof import asof_join
    from dirty_js_etl_spark.operators.events import session_stats

    events = _cat(spark, sf_dir).read("events")
    sessions = session_stats(events, gap_minutes=30).select(
        "user_id", "session_start", "session_id"
    )
    out = asof_join(
        events.select("event_id", "user_id", "ts"),
        sessions,
        on="user_id",
        left_time="ts",
        right_time="session_start",
        payload_cols=["session_id"],
    )
    return out.select("event_id", "user_id", "session_id")


# range-join oracle: plain BETWEEN predicate join (DuckDB plans IEJoin)
_X27_SQL = _X12_CTE.rstrip() + """,
sessions AS (
  SELECT user_id, CAST(user_id * 1000000 + session_seq AS BIGINT) AS session_id,
         min(ts) AS session_start, max(ts) AS session_end
  FROM numbered GROUP BY user_id, session_id
)
SELECT e.event_id, e.user_id, s.session_id
FROM events e JOIN sessions s
  ON e.user_id = s.user_id
 AND e.ts BETWEEN s.session_start AND s.session_end
"""


@register("x27_range_join", _X27_SQL)
def x27_range_join(spark, sf_dir):
    # point-in-interval join via time-bucketed equi-join (no nested
    # loop); events matched into their containing session interval
    from dirty_js_etl_spark.operators.events import session_stats
    from dirty_js_etl_spark.operators.ranges import range_join

    events = _cat(spark, sf_dir).read("events")
    sessions = session_stats(events, gap_minutes=30).select(
        "user_id", "session_start", "session_end", "session_id"
    )
    out = range_join(
        events.select("event_id", "user_id", "ts"),
        sessions,
        on="user_id",
        left_time="ts",
        start_col="session_start",
        end_col="session_end",
    )
    return out.select("event_id", "user_id", "session_id")


@register(
    "x35_sketches",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS hll_in_bound,
       TRUE AS quantiles_in_bound
FROM events GROUP BY event_type
""",
)
def x35_sketches(spark, sf_dir):
    # sketch aggregations per event type, DETERMINISTICALLY oracled: the exact
    # per-group counts hash-check against DuckDB directly, and the HLL++/KLL
    # estimates are emitted as in-error-bound BOOLEANS computed against the
    # exact answers inside the same aggregate (|hll - exact| <= 5% of exact at
    # rsd=0.02; each approx quantile inside the exact [q-0.01, q+0.01] quantile
    # envelope at accuracy=10000) — the oracle asserts TRUE. The raw
    # estimate magnitudes stay covered by tests/test_sketches.py; the
    # rows-only estimate surface lives on in x35b_sketch_estimates.
    events = _cat(spark, sf_dir).read("events")
    agg = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("hll_users"),
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("q_est"),
        F.expr(
            "percentile(value, array(0.49, 0.51, 0.94, 0.96, 0.98, 1.0))"
        ).alias("q_env"),
    )
    q_ok = (
        F.col("q_est")[0].between(F.col("q_env")[0], F.col("q_env")[1])
        & F.col("q_est")[1].between(F.col("q_env")[2], F.col("q_env")[3])
        & F.col("q_est")[2].between(F.col("q_env")[4], F.col("q_env")[5])
    )
    return agg.select(
        "event_type",
        "n_events",
        "n_users",
        (
            F.abs(F.col("hll_users") - F.col("n_users"))
            <= 0.05 * F.col("n_users")
        ).alias("hll_in_bound"),
        q_ok.alias("quantiles_in_bound"),
    )


@register("x35b_sketch_estimates", None)  # raw sketch outputs -> rows-only
def x35b_sketch_estimates(spark, sf_dir):
    # the raw HLL++/KLL estimate surface (rows-only companion of x35):
    # another engine's sketch can't be SQL-reproduced, so the driver
    # records row count while tests/test_sketches.py asserts the error
    # bounds (rel err <= 5%, rank err bounded)
    events = _cat(spark, sf_dir).read("events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("value_q"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "event_type",
        "approx_users",
        F.col("value_q")[0].alias("p50"),
        F.col("value_q")[1].alias("p95"),
        F.col("value_q")[2].alias("p99"),
        "n_events",
    )


_X13_SQL = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


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


@register("x13_hourly_rollup", _X13_SQL)
def x13_hourly_rollup(spark, sf_dir):
    from dirty_js_etl_spark.operators.events import hourly_rollup

    events = _cat(spark, sf_dir).read("events")
    return hourly_rollup(events)


@register("x14_streaming_rollup", _X13_SQL)
def x14_streaming_rollup(spark, sf_dir):
    # same oracle as the batch rollup: the streaming path must converge to
    # the batch answer once the finite source drains (tumbling windows
    # align with date_trunc('hour'))
    from dirty_js_etl_spark.streaming.events import run_stream_to_memory

    name = f"events_rollup_{next(_STREAM_COUNTER)}"
    return run_stream_to_memory(spark, sf_dir, query_name=name)


import itertools as _it

_STREAM_COUNTER = _it.count()


@register("x17_stateful_sessionize", _X12_SQL)
def x17_stateful_sessionize(spark, sf_dir):
    # custom stateful operator (applyInPandasWithState): per-user gap
    # sessions carried across micro-batches; converges to the batch
    # sessionize oracle when the finite stream drains
    from dirty_js_etl_spark.streaming.sessions import run_sessionize_stream

    name = f"sessions_stream_{next(_STREAM_COUNTER)}"
    return run_sessionize_stream(spark, sf_dir, query_name=name)


_X31_SQL = """
WITH ranked AS (
  SELECT user_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts, event_type, value FROM ranked WHERE rn = 1
"""


@register("x31_streaming_upsert", _X31_SQL)
def x31_streaming_upsert(spark, sf_dir):
    # CDC-shaped composition: foreachBatch reduces each micro-batch to
    # latest-per-user and MERGEs it into the running destination; the
    # drained stream must equal the batch latest-per-user answer
    from dirty_js_etl_spark.streaming.upsert import run_stream_upsert

    name = f"stream_upsert_{next(_STREAM_COUNTER)}"
    return run_stream_upsert(spark, sf_dir, query_name=name)


@register(
    "x15_multimodal_meta",
    "SELECT doc_id, 'image/fake' AS media_type, "
    "CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, "
    "md5(text) AS checksum FROM documents",
)
def x15_multimodal_meta(spark, sf_dir):
    from dirty_js_etl_spark.operators.multimodal import (
        attach_binary_payload,
        media_metadata_only,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return media_metadata_only(attach_binary_payload(docs))


@register(
    "x19_frame_sample",
    "SELECT doc_id, CAST(UNNEST(range(0, octet_length(encode(text)) % 5 + 1)) AS INT)"
    " AS frame_idx FROM documents",
)
def x19_frame_sample(spark, sf_dir):
    # 1->N mapInPandas expansion (video frame-sample analog); checksum
    # column dropped for the oracle (DuckDB's md5 over mixed binary
    # concat differs) — row multiplicity and indices are the contract
    from dirty_js_etl_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return sample_frames(attach_binary_payload(docs)).select("doc_id", "frame_idx")


@register(
    "x20_audio_features",
    "SELECT doc_id, CAST(octet_length(encode(text)) * 20 AS BIGINT) AS duration_ms, "
    "CAST(octet_length(encode(text)) % 2 + 1 AS INT) AS n_channels, "
    "round((octet_length(encode(text)) % 1000) / 1000.0, 6) AS rms FROM documents",
)
def x20_audio_features(spark, sf_dir):
    from dirty_js_etl_spark.operators.multimodal import (
        attach_binary_payload,
        extract_audio_features,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return extract_audio_features(attach_binary_payload(docs))


@register(
    "x203_audio_decode",
    """
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) AS l FROM documents
), d AS (
  SELECT doc_id, text,
         CASE WHEN l = 0 THEN 0 ELSE (l - 1) % 90 + 1 END AS n
  FROM b
)
SELECT doc_id, CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS n_channels,
       CAST(8 AS INT) AS bits, CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(CASE WHEN n = 0 THEN 0 ELSE
         list_sum(list_transform(range(1, n + 1),
                  i -> ascii(substring(text, CAST(i AS INT), 1)))) END
         AS BIGINT) AS sample_sum
FROM d
""",
)
def x203_audio_decode(spark, sf_dir):
    # REAL audio decode (the x16 move for the audio seam): each
    # document wraps into a genuine RIFF/WAVE file (PCM mono 8 kHz
    # 8-bit, text bytes as samples) and the Arrow-batched kernel WALKS
    # those bytes — rate/channels/bits out of the parsed fmt chunk,
    # duration and sample sum out of the data plane. The oracle
    # predicts everything from the generation rule, so the RIFF chunk
    # walker is hash-checked, not shape-checked. Generation and decode
    # are both map-only; payload bytes never shuffle.
    from dirty_js_etl_spark.operators.multimodal import (
        attach_wav_payload,
        decode_audio,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return decode_audio(attach_wav_payload(docs))


@register(
    "x204_frame_sample_real",
    """
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) AS l FROM documents
  WHERE octet_length(encode(text)) > 0
), f AS (
  SELECT doc_id, text, l,
         CAST(UNNEST(range(0, l % 4 + 2)) AS INT) AS frame_idx
  FROM b
), d AS (
  SELECT doc_id, text, l, frame_idx,
         (l + frame_idx) % 8 + 1 AS w, (l + frame_idx) % 6 + 1 AS h
  FROM f WHERE frame_idx % 2 = 0
), s AS (
  SELECT doc_id, frame_idx, w, h, l, w * h * 3 AS npix,
         list_sum(list_transform(range(1, l + 1),
                  i -> ascii(substring(text, CAST(i AS INT), 1)))) AS tot,
         CASE WHEN (w * h * 3) % l = 0 THEN 0 ELSE
           list_sum(list_transform(range(1, (w * h * 3) % l + 1),
                    i -> ascii(substring(text, CAST(i AS INT), 1)))) END AS pre
  FROM d
)
SELECT doc_id, frame_idx, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST((npix // l) * tot + pre AS BIGINT) AS pixel_sum
FROM s
""",
)
def x204_frame_sample_real(spark, sf_dir):
    # REAL frame sampling: each document becomes a container of
    # L%4+2 concatenated binary P6 frames and the kernel walks the
    # byte stream — parsing every header, striding every pixel plane —
    # emitting each 2nd frame's parsed dims + pixel sum (x19 keeps the
    # fake-kernel plumbing shape; this one decodes). The oracle replays
    # the per-frame dims and tiled byte sums arithmetically.
    from dirty_js_etl_spark.operators.multimodal import (
        attach_ppm_stream_payload,
        sample_frames_real,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return sample_frames_real(attach_ppm_stream_payload(docs))


@register(
    "x16_multimodal_decode",
    """
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) AS l FROM documents
), d AS (
  SELECT doc_id, text, l, l % 16 + 1 AS w, l % 12 + 1 AS h FROM b
), c AS (
  SELECT doc_id, text, l, w, h, w * h * 3 AS npix,
         octet_length(encode('P6' || chr(10) || CAST(w AS VARCHAR) || ' '
             || CAST(h AS VARCHAR) || chr(10) || '255' || chr(10))) AS hdr
  FROM d
), s AS (
  SELECT doc_id, l, w, h, npix, hdr,
         list_sum(list_transform(range(1, l + 1),
                  i -> ascii(substring(text, CAST(i AS INT), 1)))) AS tot,
         CASE WHEN npix % l = 0 THEN 0 ELSE
           list_sum(list_transform(range(1, npix % l + 1),
                    i -> ascii(substring(text, CAST(i AS INT), 1)))) END AS pre
  FROM c
)
SELECT doc_id, CAST(hdr + npix AS BIGINT) AS byte_len,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       'PPM' AS format,
       CAST((npix // l) * tot + pre AS BIGINT) AS pixel_sum
FROM s
""",
)
def x16_multimodal_decode(spark, sf_dir):
    # REAL decode through real mapInPandas plumbing: each document is
    # wrapped into a genuine binary P6 PPM (header + text bytes tiled
    # as pixels), and the Arrow-batched kernel PARSES those bytes --
    # dims come out of the Netpbm header scan, pixel_sum out of summing
    # the actual pixel plane.  The oracle predicts all of it
    # arithmetically from the generation rule (tiled byte sum = full
    # cycles x total + prefix remainder), so the byte-level decoder is
    # hash-checked, not just shape-checked.  Scale: generation and
    # decode are both map-only; payload bytes never shuffle.
    from dirty_js_etl_spark.operators.multimodal import (
        attach_ppm_payload,
        decode_images,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return decode_images(attach_ppm_payload(docs), use_real_decoder=True)


# ---------------------------------------------------------------------------
# semi/anti joins, pivot, percentiles, deterministic splits, SCD2, fuzzy
# matching (§2.3 category extensions + training-pipeline ops)
# ---------------------------------------------------------------------------


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


_X42_SQL = _X36_CTE + """, ranked AS (
  SELECT c.cluster_id, c.id, d.n_chars,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.id) AS rn,
         count(*) OVER (PARTITION BY c.cluster_id) AS n_docs
  FROM clusters c JOIN documents d ON d.doc_id = c.id
)
SELECT cluster_id, id AS canonical_id, n_chars,
       CAST(n_docs AS BIGINT) AS n_docs
FROM ranked WHERE rn = 1
"""


@register("x42_cluster_canonical", _X42_SQL)
def x42_cluster_canonical(spark, sf_dir):
    # keep-the-best-copy step after connected components: canonical doc
    # per duplicate cluster = longest member (ties -> lowest id)
    from dirty_js_etl_spark.operators.dedup import (
        cluster_canonical,
        dup_clusters,
        ngram_jaccard_pairs,
    )

    docs = _cat(spark, sf_dir).read("documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, jaccard_threshold=0.5
    )
    clusters = dup_clusters(pairs)
    return cluster_canonical(clusters, docs, "doc_id", "n_chars")


@register(
    "x43_fuzzy_pairs",
    """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS distance
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3
""",
)
def x43_fuzzy_pairs(spark, sf_dir):
    # blocked edit-distance matching: quadratic cost confined to small
    # (brand x size) blocks, one equi-join shuffle on the block key
    from dirty_js_etl_spark.operators.dedup import fuzzy_blocked_pairs

    part = _cat(spark, sf_dir).read("part")
    return fuzzy_blocked_pairs(
        part, "p_partkey", "p_name", ["p_brand", "p_size"], max_distance=3
    ).select("id_a", "id_b", F.col("distance").cast("int").alias("distance"))


@register(
    "x44_scd2_history",
    """
SELECT user_id, value, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CAST(row_number() OVER w AS BIGINT) AS version,
       lead(ts) OVER w IS NULL AS is_current
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def x44_scd2_history(spark, sf_dir):
    # SCD type-2 dimension history from the change stream: every
    # purchase event becomes a version row with a validity interval
    from dirty_js_etl_spark.operators.scd import scd2_history

    events = _cat(spark, sf_dir).read("events")
    hist = scd2_history(
        events.filter(F.col("event_type") == "purchase"),
        key_col="user_id",
        ts_col="ts",
        value_cols=["value"],
        tie_break="event_id",
    )
    return hist.withColumn("version", F.col("version").cast("long"))


# ---------------------------------------------------------------------------
# Corpus-pipeline operators (operators/corpus.py): decontamination,
# packing, sampling, vocabulary, profiling, repetition quality, PII
# ---------------------------------------------------------------------------

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




def _x216_band_ctes(prefix: str, src: str, num_perm: int, bands: int,
                    seed: int) -> str:
    """The words→shingles→hashes→signature→band chain for one side of
    the incremental probe (shared spelling with the x6b replay)."""
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
        f")), 1, 15) AS BIGINT) AS bucket FROM {prefix}sigs"
        for j in range(bands)
    )
    return f"""{prefix}words AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM {src}
), {prefix}sh AS (
  SELECT doc_id, UNNEST(list_distinct(list_transform(
           range(1, greatest(len(w) - 3 + 1, 1) + 1),
           i -> array_to_string(w[i:i+2], ' ')))) AS g
  FROM {prefix}words
), {prefix}hashed AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) AS h60,
         CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % {_P} AS hp
  FROM {prefix}sh
), {prefix}sigs AS (
  SELECT doc_id,
         {mins}
  FROM {prefix}hashed GROUP BY doc_id
), {prefix}band AS (
  {band_sel}
)"""


def _x216_oracle_sql(num_perm: int = 32, bands: int = 8, cap: int = 1000,
                     seed: int = 42) -> str:
    c = _x216_band_ctes("c", "corpus", num_perm, bands, seed)
    i = _x216_band_ctes("i", "ingest", num_perm, bands, seed)
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
), ingest AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
), {c}, {i}, ok AS (
  SELECT band, bucket FROM cband GROUP BY 1, 2 HAVING count(*) <= {cap}
), ckept AS (
  SELECT b.* FROM cband b JOIN ok USING (band, bucket)
), cands AS (
  SELECT DISTINCT i.doc_id AS new_id, c.doc_id AS old_id
  FROM iband i JOIN ckept c USING (band, bucket)
), szn AS (
  SELECT doc_id, count(*) AS szn FROM ihashed GROUP BY doc_id
), szc AS (
  SELECT doc_id, count(*) AS szc FROM chashed GROUP BY doc_id
), inter AS (
  SELECT cd.new_id, cd.old_id, count(*) AS i
  FROM cands cd
  JOIN ihashed ha ON ha.doc_id = cd.new_id
  JOIN chashed hb ON hb.doc_id = cd.old_id AND hb.h60 = ha.h60
  GROUP BY 1, 2
), scored AS (
  SELECT new_id, old_id,
         i / CAST(sa.szn + sb.szc - i AS DOUBLE) AS jaccard
  FROM inter
  JOIN szn sa ON sa.doc_id = new_id
  JOIN szc sb ON sb.doc_id = old_id
)
SELECT new_id, old_id AS dup_of, jaccard FROM (
  SELECT new_id, old_id, jaccard,
         row_number() OVER (PARTITION BY new_id
                            ORDER BY jaccard DESC, old_id) AS rn
  FROM scored WHERE jaccard >= 0.5
) WHERE rn = 1
"""


@register("x216_incremental_ingest_dedup", _x216_oracle_sql())
def x216_incremental_ingest_dedup(spark, sf_dir):
    # the PRODUCTION daily-ingest pattern the persisted LSH index exists
    # for (minhash_band_table's docstring): the corpus's (id, band,
    # bucket) table is built once (in production: read), the new batch
    # bands itself with the same seeded signature family and probes the
    # index with one equi-join, and only candidates pay the exact
    # hashed-shingle Jaccard verify — per-ingest cost is ingest-sized,
    # never corpus-pairs-sized. One argmax decision row per matched new
    # doc (ties -> min corpus id). Portable hashes make every stage —
    # signatures, buckets, cap, candidates, jaccards, the rank order —
    # oracle-recomputable (the x6b idiom).
    from dirty_js_etl_spark.operators.dedup import (
        incremental_near_dup,
        portable_token_hash60,
    )

    docs = _cat(spark, sf_dir).read("documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    ingest = docs.filter(F.col("doc_id") % 5 == 0)
    return incremental_near_dup(
        ingest,
        corpus,
        "doc_id",
        "text",
        num_perm=32,
        bands=8,
        jaccard_threshold=0.5,
        hash_fn=portable_token_hash60,
        portable_bands=True,
    )


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
