"""Dedup operator tests: exact keeper selection, MinHash/LSH recall vs
the exact Jaccard ground truth, SimHash behavior on near-identical
docs, and connected-components clustering."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pytest
from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.dedup import (
    dedup_exact,
    dedup_exact_groups,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    word_shingles,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " with a tiny tail"),  # near dup of 1
        (4, "completely different content about spark dataframes and shuffles"),
        (5, "another unrelated document mentioning parquet and catalyst"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dedup_exact_keeps_min_id(spark, docs):
    out = dedup_exact(docs, F.col("text"), "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4, 5]
    groups = dedup_exact_groups(docs, F.col("text"), "doc_id")
    g = {r["keeper_id"]: r["n_docs"] for r in groups.collect()}
    assert g[1] == 2  # docs 1+2 collapsed


def test_minhash_identical_docs_identical_sigs(spark, docs):
    sigs = docs.select(
        "doc_id", minhash_signature(word_shingles(F.col("text")), 32).alias("sig")
    )
    out = {r["doc_id"]: r["sig"] for r in sigs.collect()}
    assert out[1] == out[2]
    assert out[1] != out[4]
    assert len(out[1]) == 32


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, jaccard_threshold=0.4
    )
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in found  # exact dup: jaccard 1.0
    assert (1, 3) in found and (2, 3) in found  # near dup
    assert (1, 4) not in found


def test_lsh_recall_vs_exact(spark, catalog):
    """On the fixture corpus, banded-LSH candidates must recover >=90% of
    the exact-Jaccard pairs at the same threshold."""
    docs = catalog.read("documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", num_perm=64, bands=16, jaccard_threshold=0.5
        ).collect()
    }
    assert approx <= exact  # verify step uses true jaccard -> no false pos
    if exact:
        assert len(approx) / len(exact) >= 0.9


def test_simhash_near_dups(spark, docs):
    pairs = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=6)
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert found.get((1, 2)) == 0  # identical text -> distance 0
    assert (1, 4) not in found


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "one two")], "doc_id bigint, text string")
    out = df.select(word_shingles(F.col("text"), 3).alias("sh")).collect()[0]["sh"]
    assert out == ["one two"]  # whole doc as single shingle


def test_word_shingles_zipwith_matches_reference(spark):
    """The r13 zip_with spelling must be value-identical to the
    straightforward transform+slice definition on every edge shape:
    empty, 1 word, k-1 words, exactly k, longer, duplicate grams,
    messy whitespace."""
    texts = [
        "", " ", "one", "one two", "one two three",
        "one two three four five six",
        "a a a a a",  # duplicate grams -> array_distinct
        "  A   b\tC  d ",  # normalization: case + whitespace runs
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    for k in (2, 3, 4):
        words = F.split(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
        )
        n = F.size(words)
        idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
        ref = F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))
        )
        rows = df.select(
            ref.alias("ref"), word_shingles(F.col("text"), k).alias("got")
        ).collect()
        for r in rows:
            assert r["got"] == r["ref"], (k, r)


def test_dup_clusters_components(spark):
    """Chain, triangle, and pair components: every node labels with its
    component minimum; no cross-component merging."""
    from dirty_js_etl_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),   # chain  -> min 1
            (10, 11), (11, 12), (10, 12),  # triangle -> min 10
            (20, 21),                 # pair  -> min 20
        ],
        "id_a bigint, id_b bigint",
    )
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_dup_clusters_long_chain_converges(spark):
    """A 30-node chain needs ~log-diameter... iterations under min-label
    propagation; must converge within the default cap."""
    from dirty_js_etl_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a bigint, id_b bigint"
    )
    got = dup_clusters(pairs)
    assert got.filter(F.col("cluster_id") != 0).isEmpty()
    assert got.count() == 31


def test_dup_clusters_both_physical_paths_agree(spark):
    """r11 size-adaptive strategy: the single-task union-find (small
    graphs) and the distributed min-label loop (small_graph_edges=0
    forces it) must produce bit-identical labelings — chain, triangle,
    pair, and a star all exercise union order and path compression."""
    from dirty_js_etl_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12),
         (20, 21), (30, 31), (30, 32), (30, 33), (5, 1)],
        "id_a bigint, id_b bigint",
    )
    small = {r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    big = {
        r["id"]: r["cluster_id"]
        for r in dup_clusters(pairs, small_graph_edges=0).collect()
    }
    assert small == big
    assert small[5] == 1 and small[33] == 30


def test_dup_clusters_single_task_failure_falls_back(spark):
    """A task failure inside the single-task
    union-find (forced here via an injected in-task raise, which fails
    the job through Spark's real task-failure path) must NOT fail the
    query — dup_clusters falls back to the distributed min-label loop
    and produces the identical labeling."""
    from dirty_js_etl_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12),
         (20, 21), (30, 31), (30, 32), (30, 33), (5, 1)],
        "id_a bigint, id_b bigint",
    )
    healthy = {
        r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()
    }
    fallback = {
        r["id"]: r["cluster_id"]
        for r in dup_clusters(
            pairs, _inject_single_task_failure=True
        ).collect()
    }
    assert fallback == healthy
    assert fallback[5] == 1 and fallback[33] == 30


def test_fuzzy_blocked_pairs_symmetric_free_and_thresholded(spark, catalog):
    from dirty_js_etl_spark.operators.dedup import fuzzy_blocked_pairs

    part = catalog.read("part")
    pairs = fuzzy_blocked_pairs(
        part, "p_partkey", "p_name", ["p_brand", "p_size"], max_distance=3
    ).collect()
    seen = set()
    for r in pairs:
        assert r["id_a"] < r["id_b"]  # no (b,a) duplicates
        assert r["distance"] <= 3
        seen.add((r["id_a"], r["id_b"]))
    assert len(seen) == len(pairs)


def test_cluster_canonical_picks_longest_member(spark, catalog):
    from dirty_js_etl_spark.operators.dedup import (
        cluster_canonical,
        dup_clusters,
        ngram_jaccard_pairs,
    )

    docs = catalog.read("documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, jaccard_threshold=0.5
    )
    clusters = dup_clusters(pairs)
    canon = cluster_canonical(clusters, docs, "doc_id", "n_chars")
    rows = {r["cluster_id"]: r for r in canon.collect()}
    # one canonical per cluster; canonical has the max n_chars among members
    members = clusters.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    ).collect()
    by_cluster = {}
    for m in members:
        by_cluster.setdefault(m["cluster_id"], []).append(m)
    assert set(rows) == set(by_cluster)
    for cid, ms in by_cluster.items():
        assert rows[cid]["n_chars"] == max(m["n_chars"] for m in ms)
        assert rows[cid]["n_docs"] == len(ms)


def test_incremental_dedup_screens_corpus_and_batch(spark):
    from dirty_js_etl_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (10, "ALPHA   beta"),   # dup of corpus doc 1 (normalized)
            (11, "epsilon zeta"),   # fresh
            (12, "epsilon zeta"),   # batch-dup of 11 -> dropped
            (13, "eta theta"),      # fresh
        ],
        ["doc_id", "text"],
    )
    kept = sorted(
        r["doc_id"] for r in incremental_dedup(new, corpus).collect()
    )
    assert kept == [11, 13]


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard join (AllPairs/PPJoin)
# ---------------------------------------------------------------------------


def test_prefix_jaccard_equals_brute_force(spark, catalog):
    from dirty_js_etl_spark.operators.dedup import (
        prefix_jaccard_pairs,
        word_shingles,
    )

    docs = catalog.read("documents")
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in prefix_jaccard_pairs(
            docs, "doc_id", "text", jaccard_threshold=0.5
        ).collect()
    )
    # uncapped brute force over the same shingles
    base = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(word_shingles(F.col("text"), 3)).alias("g"),
    )
    sizes = base.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    l, r = base.alias("l"), base.alias("r")
    inter = (
        l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sb"))
    exp = sorted(
        (r["id_a"], r["id_b"], r["j"])
        for r in inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("j", F.col("i") / (F.col("sa") + F.col("sb") - F.col("i")))
        .filter(F.col("j") >= 0.5)
        .select("id_a", "id_b", "j")
        .collect()
    )
    assert got == exp and len(got) > 0


def test_prefix_jaccard_planted_pair(spark):
    from dirty_js_etl_spark.operators.dedup import prefix_jaccard_pairs

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = t.replace("kappa", "lambda")
    far = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, t), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             prefix_jaccard_pairs(df, "doc_id", "text", jaccard_threshold=0.5).collect()}
    assert pairs == {(1, 2)}


# ---------------------------------------------------------------------------
# Incremental (batch-vs-corpus) MinHash screen
# ---------------------------------------------------------------------------


def test_incremental_minhash_matches_full_lsh_restricted(spark, catalog):
    from dirty_js_etl_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )

    docs = catalog.read("documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    inc = incremental_minhash_pairs(batch, corpus)
    got = {
        (r["id_a"], r["id_b"], r["against"], r["jaccard"])
        for r in inc.collect()
    }
    # no corpus-side ids ever appear as id_a in 'corpus' rows, and
    # 'batch' rows are batch-only
    for a, b, side, _ in got:
        if side == "corpus":
            assert a % 10 == 0 and b % 10 != 0
        else:
            assert a % 10 == 0 and b % 10 == 0 and a < b
    # recall vs the full self-join LSH restricted to pairs touching the
    # batch: every full-LSH pair with >=1 batch doc must be found, and
    # the posting-count verify must score it exactly as the array verify
    full = minhash_lsh_pairs(docs, "doc_id", "text")
    want = set()
    for r in full.collect():
        a, b, j = r["id_a"], r["id_b"], r["jaccard"]
        if a % 10 == 0 and b % 10 == 0:
            want.add((a, b, "batch", j))
        elif a % 10 == 0:
            want.add((a, b, "corpus", j))
        elif b % 10 == 0:
            want.add((b, a, "corpus", j))
    assert want <= got


def test_null_and_empty_text_across_lsh_entry_points(spark):
    # NULL text shingles to a NULL array: it never bands, never pairs
    # and never raises. Empty text is one empty shingle, so two empty
    # docs pair at jaccard 1.0 — on the array verify (minhash_lsh_pairs)
    # and the posting-count verify (the other three) alike.
    from dirty_js_etl_spark.operators.dedup import (
        incremental_minhash_pairs,
        incremental_near_dup,
        prefix_jaccard_pairs,
    )

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, ""), (5, t), (6, t)],
        "doc_id long, text string",
    )
    for fn in (minhash_lsh_pairs, prefix_jaccard_pairs):
        got = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in fn(df, "doc_id", "text").collect()
        }
        assert got == {(3, 4, 1.0), (5, 6, 1.0)}, fn.__name__
    batch = df.filter(F.col("doc_id") % 2 == 0)  # NULL, "", t
    corpus = df.filter(F.col("doc_id") % 2 == 1)  # NULL, "", t
    inc = {
        (r["id_a"], r["id_b"], r["jaccard"], r["against"])
        for r in incremental_minhash_pairs(batch, corpus).collect()
    }
    assert inc == {(4, 3, 1.0, "corpus"), (6, 5, 1.0, "corpus")}
    probe = {
        (r["new_id"], r["dup_of"], r["jaccard"])
        for r in incremental_near_dup(batch, corpus, "doc_id", "text").collect()
    }
    assert probe == {(4, 3, 1.0), (6, 5, 1.0)}


def test_incremental_minhash_planted_cross_dup(spark):
    from dirty_js_etl_spark.operators.dedup import incremental_minhash_pairs

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    batch = spark.createDataFrame([(10, t), (20, "unrelated words entirely " * 6)],
                                  "doc_id long, text string")
    corpus = spark.createDataFrame([(1, t), (2, "other corpus doc " * 8)],
                                   "doc_id long, text string")
    got = {(r["id_a"], r["id_b"], r["against"], r["jaccard"])
           for r in incremental_minhash_pairs(batch, corpus).collect()}
    assert (10, 1, "corpus", 1.0) in got
    assert all(a != 20 for a, _, _, _ in got)


# ---------------------------------------------------------------------------
# property test: the round-8 extended-prefix candidate filter is LOSSLESS
# ---------------------------------------------------------------------------


def _ref_pairs(word_lists, threshold=0.5, cap=1000):
    """Brute-force O(n²) reference replicating ngram_jaccard_pairs
    semantics on plain Python sets: distinct word 3-grams (short docs
    collapse to one whole-doc shingle), df-capped intersections,
    uncapped sizes, RAW integer-ratio jaccard (the kmv discipline: both
    sides are one IEEE division of the same integers, so they are
    bit-identical)."""
    def shingles(ws):
        if len(ws) < 3:
            return {" ".join(ws)}  # split('') -> [''] gives {''} for empty
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sh = [shingles(ws) for ws in word_lists]
    df_count = {}
    for s in sh:
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    capped = [{g for g in s if df_count[g] <= cap} for s in sh]
    exp = {}
    for a in range(len(sh)):
        for b in range(a + 1, len(sh)):
            inter = len(capped[a] & capped[b])
            if not inter:
                continue
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if j >= threshold:
                exp[(a, b)] = j
    return exp


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=7
        ),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
    cap=st.sampled_from([2, 3, 1000]),
)
def test_prefix_filter_is_lossless_vs_brute_force(spark, corpus, threshold, cap):
    """Random tiny-vocab corpora maximize shingle collisions, ties in
    the (df, hash) prefix order, duplicate docs, and the small-pair
    α=1 edge where the ≥2 prefix-count filter must relax — the exact
    regimes where a buggy prefix scheme silently drops pairs. The
    small caps make max_shingle_df BIND on duplicate-heavy corpora,
    where identical docs must still pair with each other."""
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)],
        "doc_id bigint, text string",
    )
    exp = _ref_pairs(corpus, threshold, cap=cap)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", shingle_k=3,
            jaccard_threshold=threshold, max_shingle_df=cap,
        ).collect()
    }
    assert set(got) == set(exp), cap
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-9


def test_incremental_ingest_matches_and_skips(spark):
    """x216 semantics: a near-copy in the ingest maps to its corpus
    original (argmax jaccard, ties -> min id), an exact copy maps at
    jaccard 1.0, a novel doc emits no row, and the decision never
    pairs ingest docs with each other (index-probe only)."""
    from dirty_js_etl_spark.operators.dedup import incremental_near_dup

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("lazy", "sleepy")),
            (3, "completely different corpus text about spark engines"),
        ],
        "doc_id bigint, text string",
    )
    ingest = spark.createDataFrame(
        [
            (100, base),  # exact copy of 1
            (101, base.replace("dog", "cat")),  # near-copy
            (102, "utterly novel ingest document with no relatives"),
            (103, base),  # second exact copy: must also map to 1
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.new_id: (r.dup_of, r.jaccard)
        for r in incremental_near_dup(
            ingest, corpus, "doc_id", "text", jaccard_threshold=0.5
        ).collect()
    }
    assert got[100] == (1, 1.0)
    assert got[103] == (1, 1.0)
    assert got[101][0] == 1 and 0.5 <= got[101][1] < 1.0
    assert 102 not in got
    assert set(got) == {100, 101, 103}


def test_incremental_ingest_hot_index_bucket_capped(spark):
    """A degenerate corpus bucket (many identical corpus docs) is
    dropped at the index, so probes of it emit nothing — the cap
    guards the probe join exactly like the self-join pipelines."""
    from dirty_js_etl_spark.operators.dedup import incremental_near_dup

    corpus = spark.createDataFrame(
        [(i, "same corpus boilerplate text everywhere") for i in range(30)],
        "doc_id bigint, text string",
    )
    ingest = spark.createDataFrame(
        [(100, "same corpus boilerplate text everywhere")],
        "doc_id bigint, text string",
    )
    capped = incremental_near_dup(
        ingest, corpus, "doc_id", "text", max_bucket_size=10
    )
    assert capped.count() == 0
    uncapped = incremental_near_dup(ingest, corpus, "doc_id", "text")
    assert {r.dup_of for r in uncapped.collect()} == {0}


def test_probe_from_persisted_index_identical(spark, tmp_path):
    """The build/probe split (bench's production-shaped x216 path) is
    bit-identical to the self-contained composition, INCLUDING a
    parquet round-trip of the three index tables — the persisted-index
    layout a production pipeline reads between ingests."""
    from dirty_js_etl_spark.operators.dedup import (
        NearDupIndex,
        build_near_dup_index,
        incremental_near_dup,
        portable_token_hash60,
        probe_near_dup_index,
    )

    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    ingest = docs.filter(F.col("doc_id") % 5 == 0)
    kw = dict(
        num_perm=32, bands=8, hash_fn=portable_token_hash60,
        portable_bands=True,
    )
    idx = build_near_dup_index(corpus, "doc_id", "text", **kw)
    base = str(tmp_path / "ndidx")
    idx.band_index.write.parquet(f"{base}/band_index")
    idx.hashed.write.parquet(f"{base}/hashed")
    idx.sizes.write.parquet(f"{base}/sizes")
    persisted = NearDupIndex(
        band_index=spark.read.parquet(f"{base}/band_index"),
        hashed=spark.read.parquet(f"{base}/hashed"),
        sizes=spark.read.parquet(f"{base}/sizes"),
    )
    probed = {
        (r.new_id, r.dup_of, r.jaccard)
        for r in probe_near_dup_index(
            ingest, persisted, "doc_id", "text",
            jaccard_threshold=0.5, **kw,
        ).collect()
    }
    composed = {
        (r.new_id, r.dup_of, r.jaccard)
        for r in incremental_near_dup(
            ingest, corpus, "doc_id", "text",
            jaccard_threshold=0.5, **kw,
        ).collect()
    }
    assert probed == composed and len(probed) > 0


def test_probe_whale_bucket_keeps_min_id_argmax(spark):
    """A probe into a live whale bucket verifies every candidate and
    still emits one decision per ingest doc. skew_docs' whale bucket
    holds 200 identical corpus docs, so an ingest copy of one draws 200
    candidates at jaccard 1.0; the tie breaks to the min old_id."""
    from dirty_js_etl_spark.operators.dedup import (
        build_near_dup_index,
        probe_near_dup_index,
    )
    from tools.make_skew_fixture import skew_docs

    corpus = skew_docs(spark, 2_000)
    boiler = (
        "terms of service apply to every page on this site please read"
    )
    twin_text = [
        r.text for r in corpus.filter(F.col("doc_id") == 56).collect()
    ][0]
    ingest = spark.createDataFrame(
        [(100_000, boiler), (100_001, twin_text)],
        "doc_id bigint, text string",
    )
    kw = dict(num_perm=32, bands=8)
    # uncapped INDEX (max_bucket_size high) so the whale bucket is live
    idx = build_near_dup_index(
        corpus, "doc_id", "text", max_bucket_size=10_000, **kw
    )
    got = {
        r.new_id: (r.dup_of, r.jaccard)
        for r in probe_near_dup_index(
            ingest, idx, "doc_id", "text", jaccard_threshold=0.5, **kw
        ).collect()
    }
    assert got == {100_000: (0, 1.0), 100_001: (56, 1.0)}
