"""Text-operator tests: normalization, token counts, quality features,
language id on constructed inputs with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.text import (
    fingerprint_md5,
    lang_id,
    normalize_text,
    quality_score,
    text_stats,
    token_count,
)


def _one(spark, expr, text):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(expr.alias("out")).collect()[0]["out"]


def test_normalize(spark):
    assert _one(spark, normalize_text(F.col("text")), "  Hello   WORLD \n x ") == (
        "hello world x"
    )


def test_token_count(spark):
    assert _one(spark, token_count(F.col("text")), "a b  c") == 3


def test_text_stats_ratios(spark):
    s = text_stats(F.col("text"))
    assert _one(spark, s["alpha_ratio"], "abcd12!?") == pytest.approx(0.5)
    assert _one(spark, s["digit_ratio"], "abcd12!?") == pytest.approx(0.25)
    assert _one(spark, s["stopword_ratio"], "the cat and dog") == pytest.approx(0.5)


def test_quality_score_bounds(spark, catalog):
    docs = catalog.read("documents")
    mm = docs.select(
        F.min(quality_score(F.col("text"))).alias("lo"),
        F.max(quality_score(F.col("text"))).alias("hi"),
    ).collect()[0]
    assert 0.0 <= mm["lo"] <= mm["hi"] <= 1.0


def test_lang_id_markers(spark):
    assert _one(spark, lang_id(F.col("text")), "the cat is on the mat") == "en"
    assert _one(spark, lang_id(F.col("text")), "der hund und die katze ist") == "de"
    assert _one(spark, lang_id(F.col("text")), "le chat et la maison est") == "fr"
    assert _one(spark, lang_id(F.col("text")), "el perro y los gatos es") == "es"
    assert _one(spark, lang_id(F.col("text")), "zzz qqq xxx") == "und"


def test_fingerprints_stable_under_whitespace(spark):
    a = _one(spark, fingerprint_md5(F.col("text")), "Hello   World")
    b = _one(spark, fingerprint_md5(F.col("text")), " hello world ")
    assert a == b


class TestCompressionRatio:
    def test_repetitive_below_random(self, spark):
        from pyspark.sql import Row

        from dirty_js_etl_spark.operators.text import compression_ratio_udf

        import random as _r

        rnd = _r.Random(7)
        noise = " ".join(
            "".join(rnd.choice("abcdefghijklmnopqrstuvwxyz0139") for _ in range(8))
            for _ in range(60)
        )
        df = spark.createDataFrame(
            [Row(doc_id=1, text="spam ham " * 200), Row(doc_id=2, text=noise)],
            "doc_id long, text string",
        )
        ratio = compression_ratio_udf()
        out = {
            r.doc_id: r.cr
            for r in df.select(
                "doc_id", ratio(F.col("text")).alias("cr")
            ).collect()
        }
        assert out[1] < 0.1  # repeated phrase collapses
        assert out[2] > 0.5  # noise stays near incompressible
        assert out[1] < out[2]

    def test_deterministic_across_partitionings(self, spark, catalog):
        from dirty_js_etl_spark.operators.text import compression_ratio_udf

        docs = catalog.read("documents").select("doc_id", "text")
        ratio = compression_ratio_udf()

        def run(df):
            return dict(
                df.select("doc_id", ratio(F.col("text")).alias("c")).collect()
            )

        assert run(docs.repartition(1)) == run(docs.repartition(9))


def test_x135_golden_table_sf0001(spark):
    """Golden pin for x135: the full sf0.001 output
    table, digested. x135 is rows-only (a SQL oracle can't reproduce
    zlib), so this pin is its verification story: the digest freezes
    every (doc_id, ratio) pair the query emits on the committed fixture.

    BUILD-DEPENDENT: ratios come from zlib level 6; the pin is valid for
    the container's zlib (1.2.13, where this digest was taken). A zlib
    upgrade that changes deflate output invalidates the digest without
    the operator being wrong — re-pin after confirming the property
    tests above still hold (repetitive << random, partition-invariant).
    """
    import hashlib
    import zlib

    from dirty_js_etl_spark.queries import all_queries

    rows = sorted(
        (r.doc_id, r.compression_ratio)
        for r in all_queries()["x135_compression_quality"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert len(rows) == 500
    # spot values (readable failures before the digest check)
    table = dict(rows)
    assert table[0] == 0.703125
    assert table[1] == 0.428571
    assert table[499] == 0.531008
    digest = hashlib.md5(
        ";".join(f"{i}:{c:.6f}" for i, c in rows).encode()
    ).hexdigest()
    if zlib.ZLIB_RUNTIME_VERSION == "1.2.13":
        assert digest == "cb0a3ae33136a84ee7b76536f030941b"
    else:  # other zlib build: the property tests remain the gate
        import pytest

        pytest.skip(f"golden pinned for zlib 1.2.13, got {zlib.ZLIB_RUNTIME_VERSION}")


def test_hashed_linear_score_semantics(spark):
    # exact integer accumulation, normalized margin, sign decision,
    # NULL/empty passthrough (x217)
    from dirty_js_etl_spark.operators.text import (
        hashed_linear_score,
        hashed_linear_weights,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, None), (4, "alpha")],
        "doc_id bigint, text string",
    )
    got = {r.id: r for r in hashed_linear_score(df, "doc_id", "text").collect()}
    assert len(got) == 4
    # duplicate tokens count multiply (bag of words): score_num(1) =
    # 2*w(alpha) + w(beta); doc 4 = w(alpha)
    import hashlib

    ws = hashed_linear_weights(64, 42)

    def w(tok):
        return ws[int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 64]

    assert got[4].score_num == w("alpha") and got[4].n_tokens == 1
    assert got[1].score_num == 2 * w("alpha") + w("beta")
    assert got[1].n_tokens == 3
    assert got[1].keep == (got[1].score_num > 0)
    assert got[1].score == got[1].score_num / 3000.0
    for d in (2, 3):
        assert got[d].n_tokens == 0 and got[d].score == 0.0 and not got[d].keep


def test_hashed_linear_score_is_partitioning_invariant(spark):
    # the quantized-replay property the docstring claims: identical
    # scores regardless of partitioning (integer sums are
    # order-independent; float dot products would not be)
    from dirty_js_etl_spark.operators.text import hashed_linear_score

    rows = [(i, f"tok{i % 7} tok{i % 3} tok{i % 11} filler words here")
            for i in range(200)]
    a = spark.createDataFrame(rows, "doc_id bigint, text string")
    b = a.repartition(17)
    ra = {r.id: (r.score_num, r.score) for r in
          hashed_linear_score(a, "doc_id", "text").collect()}
    rb = {r.id: (r.score_num, r.score) for r in
          hashed_linear_score(b, "doc_id", "text").collect()}
    assert ra == rb
