"""Corpus-pipeline operators (operators/corpus.py): decontamination,
sequence packing, stratified sampling, vocabulary, profiling, repetition
quality, PII redaction — semantics on crafted micro-frames plus
partition-invariance where determinism is the contract."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.corpus import (
    decontaminate,
    pack_sequences,
    pii_report,
    profile_table,
    redact_pii,
    repetition_stats,
    stratified_sample,
    vocab_topk,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows], "doc_id long, text string"
    )


def test_decontaminate_flags_overlap(spark):
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),  # shares grams with eval
            (2, "zeta eta theta iota kappa"),  # disjoint
        ],
    )
    eval_set = _docs(spark, [(100, "alpha beta gamma delta")])
    out = {
        r["doc_id"]: (r["n_hit_grams"], r["contaminated"])
        for r in decontaminate(corpus, eval_set, n=3, min_hits=2).collect()
    }
    # eval 3-grams: {alpha beta gamma, beta gamma delta}; doc 1 has both
    assert out[1] == (2, True)
    assert out[2] == (0, False)


def test_pack_sequences_offsets_and_bins(spark):
    df = spark.createDataFrame(
        [("en", 1, 100), ("en", 2, 50), ("en", 3, 80), ("de", 7, 10)],
        "lang string, doc_id long, n long",
    )
    out = {
        r["doc_id"]: (r["offset"], r["seq_id"])
        for r in pack_sequences(
            df, "doc_id", F.col("n"), budget=128, group_cols=["lang"]
        ).collect()
    }
    # en stream: doc1 @0 (seq 0), doc2 @100 (seq 0), doc3 @150 (seq 1)
    assert out[1] == (0, 0)
    assert out[2] == (100, 0)
    assert out[3] == (150, 1)
    assert out[7] == (0, 0)  # de group starts its own stream


def test_pack_sequences_partition_invariant(spark, catalog):
    docs = catalog.read("documents").select(
        "lang", "doc_id", F.length("text").alias("n")
    )
    a = pack_sequences(docs, "doc_id", F.col("n"), 4096, ["lang"])
    b = pack_sequences(
        docs.repartition(13), "doc_id", F.col("n"), 4096, ["lang"]
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_stratified_sample_rates(spark):
    df = spark.range(0, 5000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("s"),
    )
    out = stratified_sample(df, "k", "s", {"a": 1.0, "b": 0.0})
    kept = out.groupBy("s").count().collect()
    assert {r["s"]: r["count"] for r in kept} == {"a": 2500}
    # half-rate stratum lands near 50% (hash-uniform, not RNG)
    half = stratified_sample(df, "k", "s", {"a": 0.5}, default_rate=0.5)
    assert abs(half.count() / 5000 - 0.5) < 0.03


def test_vocab_topk_tie_break(spark):
    df = _docs(spark, [(1, "b b a a c")])
    rows = vocab_topk(df, "text", k=2).collect()
    assert [(r["token"], r["cnt"]) for r in rows] == [("a", 2), ("b", 2)]


def test_profile_table_counts(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, "y")], "k long, v string"
    )
    out = {r["col_name"]: r for r in profile_table(df, ["k", "v"]).collect()}
    assert out["k"]["n_rows"] == 3
    assert out["k"]["n_nulls"] == 0
    assert out["k"]["n_distinct"] == 2
    assert (out["k"]["min_val"], out["k"]["max_val"]) == ("1", "2")
    assert out["v"]["n_nulls"] == 1
    assert out["v"]["n_distinct"] == 2


def test_repetition_stats_signal(spark):
    df = _docs(spark, [(1, "spam spam spam spam"), (2, "a b c d")])
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["top_token_share"] == 1.0
    assert out[1]["distinct_ratio"] == 0.25
    assert out[2]["top_token_share"] == 0.25
    assert out[2]["distinct_ratio"] == 1.0


def test_redact_pii_masks(spark):
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org or call 415-555-0199 now")],
        "k long, t string",
    )
    row = df.select(redact_pii(F.col("t")).alias("c")).first()
    assert row["c"] == "mail <EMAIL> or call <NUM> now"
    rep = pii_report(df, "k", F.col("t")).first()
    assert (rep["n_emails"], rep["n_numbers"]) == (1, 1)


def test_chunking_reconstructs_corpus(spark):
    """Chunks (width 50, stride 40) losslessly cover the token stream:
    chunk 0 plus every later chunk minus its 10-token overlap re-forms
    the original normalized text."""
    from dirty_js_etl_spark.queries import all_queries

    x85_chunk_documents = all_queries()["x85_chunk_documents"]
    chunks = (
        x85_chunk_documents(spark, "/root/testdata/sf0.001")
        .orderBy("doc_id", "chunk_id")
        .collect()
    )
    rebuilt: dict[int, list[str]] = {}
    for r in chunks:
        toks = r["chunk_text"].split(" ")
        assert r["n_chunk_tokens"] == len(toks) <= 50
        keep = toks if r["chunk_id"] == 0 else toks[10:]
        rebuilt.setdefault(r["doc_id"], []).extend(keep)
    from dirty_js_etl_spark.operators.text import tokens as tok_fn
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    orig = {
        r["doc_id"]: r["t"]
        for r in docs.select(
            "doc_id", tok_fn(F.col("text")).alias("t")
        ).collect()
    }
    assert rebuilt == orig


def test_quantize_bounds_and_extremes(spark):
    """int8 quantization stays in [-127, 127] and every vector's
    max-magnitude component lands at 126/127 (truncation boundary)."""
    from pyspark.sql import functions as F

    from dirty_js_etl_spark.queries import all_queries

    x84_embedding_quantize = all_queries()["x84_embedding_quantize"]
    q = x84_embedding_quantize(spark, "/root/testdata/sf0.001")
    stats = q.agg(
        F.min("q").alias("lo"), F.max(F.abs(F.col("q"))).alias("hi")
    ).first()
    assert stats["lo"] >= -127 and stats["hi"] <= 127
    per_vec = q.groupBy("vec_id").agg(F.max(F.abs(F.col("q"))).alias("m"))
    bad = per_vec.filter(F.col("m") < 126).count()
    assert bad == 0


def _ids(spark, n=60):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7 * 40 + 20).cast("double").alias("n_chars"),
    )


class TestWeightedSample:
    def test_deterministic_across_partitionings(self, spark):
        from dirty_js_etl_spark.operators.corpus import weighted_sample

        base = _ids(spark)
        a = weighted_sample(base.repartition(1), "doc_id", "n_chars", 20)
        b = weighted_sample(base.repartition(13), "doc_id", "n_chars", 20)
        assert sorted(r.doc_id for r in a.collect()) == sorted(
            r.doc_id for r in b.collect()
        )

    def test_equal_weights_match_unweighted_bottom_k(self, spark):
        # with w constant, w/u is anti-monotone in u -- the sample must
        # equal the bottom-k of the hash draw itself (pure hash sample)
        from dirty_js_etl_spark.operators.corpus import weighted_sample

        base = _ids(spark).select("doc_id").withColumn("w", F.lit(5.0))
        got = {
            r.doc_id
            for r in weighted_sample(base, "doc_id", "w", 15).collect()
        }
        hex8 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
        u = F.conv(hex8, 16, 10).cast("bigint")
        want = {
            r.doc_id
            for r in base.orderBy(F.asc(u), "doc_id").limit(15).collect()
        }
        assert got == want

    def test_huge_weight_always_included_zero_excluded(self, spark):
        from dirty_js_etl_spark.operators.corpus import weighted_sample

        base = _ids(spark).select("doc_id").withColumn(
            "w",
            F.when(F.col("doc_id") == 7, F.lit(1e12))
            .when(F.col("doc_id") == 8, F.lit(0.0))
            .otherwise(F.lit(1.0)),
        )
        ids = {
            r.doc_id
            for r in weighted_sample(base, "doc_id", "w", 10).collect()
        }
        assert 7 in ids and 8 not in ids

    def test_weight_monotone_inclusion_rate(self, spark):
        # heavier stratum should be overrepresented vs its row share
        from dirty_js_etl_spark.operators.corpus import weighted_sample

        base = _ids(spark).select("doc_id").withColumn(
            "w", F.when(F.col("doc_id") % 2 == 0, F.lit(20.0)).otherwise(F.lit(1.0))
        )
        n = base.count()
        samp = weighted_sample(base, "doc_id", "w", n // 4).collect()
        heavy = sum(1 for r in samp if r.doc_id % 2 == 0)
        assert heavy / len(samp) > 0.7  # vs 0.5 row share


# ---------------------------------------------------------------------------
# Round 4: paragraph dedup / containment / domain gating
# ---------------------------------------------------------------------------


def test_paragraph_dedup_removes_repeated_chunks(spark):
    from dirty_js_etl_spark.operators.corpus import paragraph_dedup

    # doc 1: two distinct chunks; doc 2 repeats doc 1's first chunk then
    # adds its own; doc 3 is entirely doc 1's chunks -> fully dropped
    c1 = "a b c"
    c2 = "d e f"
    c3 = "x y z"
    df = spark.createDataFrame(
        [(1, f"{c1} {c2}"), (2, f"{c1} {c3}"), (3, f"{c1} {c2}")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(df, chunk_tokens=3).collect()
    }
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["text_dedup"] == f"{c1} {c2}"
    assert out[2]["n_kept"] == 1 and out[2]["text_dedup"] == c3
    assert out[3]["n_kept"] == 0 and out[3]["text_dedup"] is None


def test_paragraph_dedup_partition_invariant(spark, catalog):
    from dirty_js_etl_spark.operators.corpus import paragraph_dedup

    docs = catalog.read("documents")
    a = paragraph_dedup(docs).orderBy("doc_id").collect()
    b = paragraph_dedup(docs.repartition(7)).orderBy("doc_id").collect()
    assert a == b


def test_containment_scores_hand_computed(spark):
    from dirty_js_etl_spark.operators.corpus import containment_scores

    corpus = spark.createDataFrame(
        [(1, "a b c d"), (2, "p q r s")], "doc_id long, text string"
    )
    eval_set = spark.createDataFrame(
        [(9, "a b c zz")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in containment_scores(
            corpus, eval_set, n=3, threshold=0.5
        ).collect()
    }
    # doc 1 grams: "a b c", "b c d" -> 1 of 2 matched ("a b c")
    assert out[1]["n_grams"] == 2 and out[1]["n_matched"] == 1
    assert out[1]["containment"] == 0.5 and out[1]["flagged"]
    assert out[2]["n_matched"] == 0 and not out[2]["flagged"]


def test_domain_quality_flags_below_mean(spark):
    from dirty_js_etl_spark.operators.corpus import domain_quality

    df = spark.createDataFrame(
        [("s1", 0.9), ("s1", 0.7), ("s2", 0.1), ("s2", 0.3)],
        "source string, q double",
    )
    out = {r["domain"]: r for r in domain_quality(df, F.col("q")).collect()}
    assert out["s1"]["avg_quality"] == 0.8 and not out["s1"]["below_avg"]
    assert out["s2"]["avg_quality"] == 0.2 and out["s2"]["below_avg"]


def test_repeated_span_coverage_hand_computed(spark):
    from dirty_js_etl_spark.operators.corpus import repeated_span_coverage

    # doc 1 and doc 2 share an identical 60-char prefix; doc 3 is unique.
    # window=20, stride=5: every aligned 20-gram of the shared prefix
    # occurs twice -> the prefix region is covered on both docs. Random
    # (non-periodic) strings so no window accidentally self-repeats.
    import random

    rnd = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    shared = "".join(rnd.choice(alpha) for _ in range(60))
    tail1 = "".join(rnd.choice(alpha) for _ in range(40))
    tail2 = "".join(rnd.choice(alpha) for _ in range(40))
    uniq = "".join(rnd.choice(alpha) for _ in range(100))
    docs = spark.createDataFrame(
        [(1, shared + tail1), (2, shared + tail2), (3, uniq)],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in repeated_span_coverage(
            docs, window=20, stride=5, min_count=2
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[3]["repeated_chars"] == 0 and out[3]["repeated_ratio"] == 0.0
    # aligned 20-grams fully inside the 60-char shared prefix start at
    # offsets 1,6,...,41 -> union covers [1, 61) = 60 chars
    assert out[1]["repeated_chars"] == 60
    assert out[2]["repeated_chars"] == 60
    assert out[1]["n_chars"] == 100
    assert abs(out[1]["repeated_ratio"] - 0.6) < 1e-9


def test_repeated_span_within_doc_repeat_counts(spark):
    from dirty_js_etl_spark.operators.corpus import repeated_span_coverage

    # a document repeating its own 40-char block twice is self-repeated
    import random

    rnd = random.Random(11)
    block = "".join(rnd.choice("xyzuvw") for _ in range(40))
    filler = "".join(rnd.choice("abcdefgh") for _ in range(45))
    docs = spark.createDataFrame(
        [(1, block + filler + block)], "doc_id long, text string"
    )
    out = repeated_span_coverage(docs, window=20, stride=5).collect()[0]
    assert out["repeated_chars"] > 0


def test_training_shuffle_deterministic_and_complete(spark):
    from dirty_js_etl_spark.operators.corpus import training_shuffle

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = {(r["id"], r["shard"], r["pos"]) for r in training_shuffle(df, n_shards=4, seed=1).collect()}
    b = {(r["id"], r["shard"], r["pos"]) for r in training_shuffle(df.repartition(7), n_shards=4, seed=1).collect()}
    assert a == b  # partition-invariant
    c = {(r["id"], r["shard"], r["pos"]) for r in training_shuffle(df, n_shards=4, seed=2).collect()}
    assert a != c  # a new seed is a different permutation
    # positions are a clean 0..k-1 sequence per shard, all ids kept
    import collections

    by_shard = collections.defaultdict(list)
    for _id, sh, pos in a:
        by_shard[sh].append(pos)
    assert sum(len(v) for v in by_shard.values()) == 200
    for sh, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))


def test_ngram_novelty_hand_computed(spark):
    from dirty_js_etl_spark.operators.corpus import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),      # all 4 distinct 3-grams novel
            (2, "the cat sat on the mat"),      # identical -> nothing novel
            (3, "the cat sat somewhere else"),  # shares gram 'the cat sat'
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in ngram_novelty(docs).collect()}
    assert out[1]["novelty_ratio"] == 1.0
    assert out[2]["novel_grams"] == 0
    assert out[3]["n_grams"] == 3
    assert out[3]["novel_grams"] == 2  # 'the cat sat' first seen in doc 1
