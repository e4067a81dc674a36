"""Near-duplicate detection queries (``operators/dedup.py``).

Exact fingerprint groups, n-gram Jaccard pairs, MinHash LSH (native and
its portable twin x6b), SimHash, fuzzy pairs, duplicate clusters with
canonical members, prefix-filtered Jaccard joins and the incremental
(index-probe) dedup paths.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries._shared import _NORM_SQL, _cat, register


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
