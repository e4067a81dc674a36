"""Text-analysis operators for training-data pipelines (north-star M4).

No reference analog (the reference is relational-only, SURVEY.md §2.3);
these are the document-pipeline primitives a 100 TB corpus needs:
normalization, tokenization, quality scoring, language id, fingerprints.

Everything is built from ``pyspark.sql.functions`` expressions — no
Python UDFs — so the whole module runs inside whole-stage codegen and
scales as a pure projection (no shuffle at all; map-only over the
document partitions).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword-hit heuristic
# language id. Deliberately tiny and deterministic; order is the
# tie-break priority.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
    "zh": ("的", "了", "是"),
}

EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def normalize_text(col: Column) -> Column:
    """lowercase + trim + collapse internal whitespace runs."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens(col: Column) -> Column:
    """whitespace tokenization of the normalized text."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def _count_matching(col: Column, char_set: str) -> Column:
    """#chars in a character set = length after deleting everything else.

    ``char_set`` is the *inside* of a character class (e.g. ``A-Za-z``)."""
    return F.length(F.regexp_replace(col, f"[^{char_set}]", ""))


def text_stats(col: Column) -> dict[str, Column]:
    """Quality-signal feature columns (each a plain codegen expression).

    Ratios divide by ``n_chars`` guarded to >=1 so empty docs yield 0.0
    rather than a division error under ANSI mode.
    """
    n_chars = F.length(col)
    denom = F.greatest(n_chars, F.lit(1)).cast("double")
    toks = tokens(col)
    n_tokens = F.size(toks)
    tok_denom = F.greatest(n_tokens, F.lit(1)).cast("double")
    n_alpha = _count_matching(col, "A-Za-z")
    n_digit = _count_matching(col, "0-9")
    n_space = _count_matching(col, r"\s")
    n_punct = n_chars - n_alpha - n_digit - n_space
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alpha_ratio": n_alpha / denom,
        "digit_ratio": n_digit / denom,
        "punct_ratio": n_punct.cast("double") / denom,
        "stopword_ratio": n_stop / tok_denom,
        "avg_token_len": (n_chars - n_space) / tok_denom,
    }


def quality_score(col: Column) -> Column:
    """Scalar quality score in [0,1]: alpha-heavy, stopword-bearing,
    mid-length docs score high — the standard cheap pre-filter shape."""
    s = text_stats(col)
    length_ok = (
        F.when((s["n_chars"] >= 50) & (s["n_chars"] <= 10000), F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    return F.round(
        s["alpha_ratio"] * 0.4
        + s["stopword_ratio"] * 0.3
        + length_ok * 0.3,
        6,
    )


def lang_scores(col: Column) -> dict[str, Column]:
    toks = tokens(col)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def lang_id(col: Column) -> Column:
    """Argmax of marker-stopword hits; declaration order breaks ties,
    'und' (undetermined) when nothing matches."""
    scores = lang_scores(col)
    langs = list(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def fingerprint_md5(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    Exact-dup detection key; oracle-friendly (md5 agrees across engines)."""
    return F.md5(normalize_text(col))


def tfidf_topk(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document:
    ``(doc_id, term, tfidf, rank)`` with ``idf = ln(N / df)`` and a
    deterministic tie-break (score desc, term asc).

    Scale: term frequencies are one hash-agg keyed ``(doc, token)``
    (map-side combine absorbs repeated tokens before the shuffle). The
    document-frequency relation is |vocab| rows — usually small, but on
    a web-scale corpus the raw token vocabulary (URLs, hashes, noise)
    grows with the data, so it carries NO forced broadcast hint: AQE
    broadcasts it while it fits (no tf re-shuffle), and when it truly
    outgrows memory the join falls back to re-keying tf by token —
    slower but finishing, where a hinted broadcast would OOM. The 1-row
    corpus count does hint. The final per-doc top-k is a window over
    the doc partitioning the tf agg already established.
    """
    from pyspark.sql import Window

    tf = (
        df.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
        )
        .filter(F.length("token") > 0)
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .select(
            id_col,
            F.col("token").alias("term"),
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def compression_ratio_udf():
    """Arrow-batched pandas UDF: deflate-compressed bytes / raw bytes —
    the classic gibberish/boilerplate screen (highly repetitive text
    compresses far below ~0.4; high-entropy noise stays near 1).

    zlib is pinned to level 6; the ratio is a *relative* quality signal,
    not a cross-engine-stable constant, so queries built on it are
    rows-only checked with property tests. Vectorized per Arrow batch —
    the per-row Python cost is the compression itself, unavoidable for
    this signal.
    """
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        def one(t: str) -> float:
            raw = (t or "").encode("utf-8")
            if not raw:
                return 1.0
            return len(zlib.compress(raw, 6)) / len(raw)

        return texts.map(one)

    return ratio


# ---------------------------------------------------------------------------
# hashed-feature linear quality scorer (the fastText-style filter shape)
# ---------------------------------------------------------------------------


def hashed_linear_weights(n_buckets: int, seed: int) -> list[int]:
    """Deterministic quantized weights for :func:`hashed_linear_score`:
    integer in [-1000, 1000], derived from md5(f"{seed}_{bucket}") —
    the stand-in for a TRAINED model's quantized weights. Generated
    driver-side and embedded as plan literals (like the MinHash (a, b)
    params), so any engine rebuilds the identical model from the seed.
    In production, replace with real trained weights quantized the same
    way (w_q = round(w * 1000))."""
    import hashlib

    return [
        int(hashlib.md5(f"{seed}_{b}".encode()).hexdigest()[:15], 16)
        % 2001
        - 1000
        for b in range(n_buckets)
    ]


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Linear text-quality classifier over HASHED bag-of-words features
    (the fastText-supervised / quality-filter shape every LLM data
    pipeline runs): each token hashes into one of ``n_buckets`` feature
    buckets, the score is the weight sum over the token bag, and the
    keep/drop decision is its sign. Returns
    (id, n_tokens, score_num, score, keep) where ``score_num`` is the
    EXACT integer weight sum, ``score`` = score_num / (1000·n_tokens)
    is the length-normalized margin in [-1, 1] as ONE correctly-rounded
    IEEE division (deliberately NOT re-rounded to decimals: quotients
    of small integers land on exact decimal midpoints where Spark's
    BigDecimal HALF_UP and DuckDB's binary rounding disagree — the raw
    quotient is bit-identical on every engine), and ``keep`` =
    score_num > 0.

    The quantized-replay discipline (x200/x143): weights are integers,
    the accumulation is an exact integer sum (order-independent), and
    the only float op is one correctly-rounded division — so a SQL
    oracle replays scores bit-for-bit, and the same property makes the
    score REPRODUCIBLE across cluster sizes and shuffle orders (a
    float-weight dot product would drift with partitioning; a data
    filter that changes membership when the cluster resizes is a
    training-data bug).

    Scale: explode tokens → ONE map-side-combined groupBy(id) — the
    weight lookup is `element_at` on a plan-literal array, evaluated
    inside codegen; no UDF, no join, no second shuffle. Empty/NULL
    texts yield n_tokens 0, score 0.0, keep false."""
    from dirty_js_etl_spark.operators.dedup import portable_token_hash60

    ws = hashed_linear_weights(n_buckets, seed)
    warr = F.array(*[F.lit(w) for w in ws])
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens(F.col(text_col))).alias("t"),
    )
    bucket = F.pmod(portable_token_hash60(F.col("t")), F.lit(n_buckets))
    scored = (
        tok.select(
            "id",
            F.when(
                F.col("t").isNotNull() & (F.col("t") != ""),
                F.element_at(warr, (bucket + 1).cast("int")),
            ).alias("w"),
        )
        .groupBy("id")
        .agg(
            F.count("w").alias("n_tokens"),
            F.coalesce(F.sum("w"), F.lit(0)).alias("score_num"),
        )
    )
    return scored.select(
        "id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("score_num").cast("long").alias("score_num"),
        F.when(F.col("n_tokens") > 0,
               F.col("score_num") / (F.lit(1000.0) * F.col("n_tokens")))
        .otherwise(F.lit(0.0))
        .alias("score"),
        (F.col("score_num") > 0).alias("keep"),
    )
