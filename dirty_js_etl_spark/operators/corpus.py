"""Training-corpus pipeline operators (north-star M4 extensions).

No reference analog (`bruslim/dirty-js-etl` is relational-only,
SURVEY.md §2.3); these are the corpus-preparation stages a 100 TB
LLM-data pipeline runs between raw documents and training shards:
eval-set decontamination, sequence packing, deterministic stratified
sampling, vocabulary statistics, table profiling, repetition-based
quality signals, and PII redaction.

Scale design per operator is documented on each function; the common
theme: hash-keyed determinism (results independent of partitioning),
broadcast for the small side (eval grams, sample-rate maps), and
per-group windows rather than global sorts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.dedup import word_shingles
from dirty_js_etl_spark.operators.splits import hash_bucket
from dirty_js_etl_spark.operators.text import normalize_text, tokens


# ---------------------------------------------------------------------------
# Decontamination: n-gram overlap against an eval/benchmark set
# ---------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Flag training docs sharing >= ``min_hits`` distinct word n-grams
    with any eval-set document (the standard 13-gram-overlap
    decontamination check, parameterized down for small fixtures).

    Returns one row per corpus doc: ``(id, n_hit_grams, contaminated)``.

    Scale: the eval set is *small by construction* (benchmarks are KBs,
    the corpus is TBs) — its distinct gram table is broadcast, so the
    corpus side is a map-only explode + broadcast semi-join + hash-agg
    on ``id``: exactly one shuffle, keyed by doc id (uniform, no skew).
    If the eval side ever outgrew the broadcast threshold, AQE degrades
    it to a shuffle join with identical semantics.
    """
    grams = word_shingles(F.col(text_col), k=n)
    eval_grams = (
        eval_set.select(F.explode(grams).alias("g")).distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(grams).alias("g")
    )
    hits = (
        corpus_grams.join(F.broadcast(eval_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
            (F.coalesce("n_hit_grams", F.lit(0)) >= min_hits).alias(
                "contaminated"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing: concatenate-then-chunk token-budget assignment
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: Column,
    budget: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Assign each document a position in a concatenated token stream and
    the training-sequence id it starts in (GPT-style concatenate-then-
    chunk packing: docs are laid end-to-end in deterministic ``id`` order
    and the stream is cut every ``budget`` tokens).

    Returns ``(group_cols..., id, n_tokens, offset, seq_id)`` where
    ``offset`` is the doc's start position in its group's stream and
    ``seq_id = offset // budget``.

    Scale: one window per group (partitionBy ``group_cols``, orderBy
    ``id``) — a single hash shuffle on the group key and a per-group
    sort, never a global sort. Group by shard-sized keys (language ×
    source × date) so each window partition is bounded; the assignment
    is a pure function of (group, id order, token counts), so re-runs
    and retries are stable. Without ``group_cols`` the running offset
    becomes a distributed prefix sum (operators/ranking.py) — still no
    single-partition sort.
    """
    group_cols = group_cols or []
    sel = df.select(
        *group_cols,
        F.col(id_col),
        token_count_col.cast("long").alias("n_tokens"),
    )
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy(id_col)
        out = sel.withColumn(
            "offset",
            F.coalesce(
                F.sum("n_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
    else:
        from dirty_js_etl_spark.operators.ranking import with_global_prefix_sum

        out = with_global_prefix_sum(
            sel, [id_col], "n_tokens", "__cum"
        ).withColumn(
            "offset", (F.col("__cum") - F.col("n_tokens")).cast("long")
        ).drop("__cum")
    return out.withColumn(
        "seq_id", F.floor(F.col("offset") / budget).cast("long")
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    n_buckets: int = 100,
) -> DataFrame:
    """Keep a per-stratum fraction of rows, chosen by md5 hash of the id
    rather than an RNG — the domain-mixing primitive of corpus curation
    ("keep 100% of books, 10% of web").

    Scale: a pure projection + filter (no shuffle, no RNG state): any
    executor keeps the same rows for the same ids, so samples are stable
    across retries, cluster sizes, and incremental re-runs; per-stratum
    rates hold within every partition, not just globally. The rate map
    is embedded as a literal CASE — no join at all.
    """
    b = hash_bucket(F.col(id_col), n_buckets)
    expr = None
    for stratum, rate in sorted(rates.items()):
        thresh = int(round(rate * n_buckets))
        cond = F.col(strata_col) == stratum
        expr = (
            F.when(cond, F.lit(thresh))
            if expr is None
            else expr.when(cond, F.lit(thresh))
        )
    thresh_col = (
        expr.otherwise(F.lit(int(round(default_rate * n_buckets))))
        if expr is not None
        else F.lit(int(round(default_rate * n_buckets)))
    )
    return df.filter(b < thresh_col)


# ---------------------------------------------------------------------------
# Vocabulary statistics
# ---------------------------------------------------------------------------


def vocab_topk(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Global top-k token frequencies ``(token, cnt)`` with a
    deterministic tie-break (count desc, token asc).

    Scale: explode + hash-agg on token (map-side combine absorbs hot
    tokens — the classic word-count skew is gone before the shuffle),
    then the top-k is a ``TakeOrdered`` (per-partition heap + driver
    merge of k rows), never a global sort of the vocabulary.
    """
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Table profiling
# ---------------------------------------------------------------------------


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column data-profile summary: ``(col_name, n_rows, n_nulls,
    n_distinct, min_val, max_val)`` with min/max rendered as strings so
    heterogeneous column types stack into one frame.

    Scale: a single full-scan aggregation producing ONE driver-side row
    (all columns' stats at once — partial aggregation map-side), then the
    per-column un-pivot is a zero-cost projection of that row via
    ``stack``. Exact distinct counts expand the plan per distinct column;
    for 100 TB profiling swap ``approx_count_distinct`` in via
    ``exact_distinct=False`` — same shape, sketch-mergeable, one pass.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    stack_args: list[Column] = []
    for c in cols:
        stack_args += [
            F.lit(c),
            F.col(f"{c}__nulls"),
            F.col(f"{c}__nd"),
            F.col(f"{c}__min"),
            F.col(f"{c}__max"),
        ]
    return one.select(
        F.col("__n").alias("n_rows"),
        F.stack(
            F.lit(len(cols)), *stack_args
        ).alias("col_name", "n_nulls", "n_distinct", "min_val", "max_val"),
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


# ---------------------------------------------------------------------------
# Repetition-ratio quality signal (Gopher-style)
# ---------------------------------------------------------------------------


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc repetition signals: token count, distinct-token ratio, and
    the share of the single most frequent token (high share = boilerplate
    / keyword-stuffed doc — the Gopher repetition filters' core signal).

    Returns ``(id, n_tokens, distinct_ratio, top_token_share)``.

    Scale: explode + two hash-aggs keyed by (doc, token) then doc —
    both shuffles are keyed by doc id so they're uniform; nothing is
    quadratic in doc length and no window over the full corpus exists.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).filter(F.length("token") > 0)
    per_token = tok.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_token.groupBy(id_col).agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        (F.count(F.lit(1)) / F.sum("cnt")).alias("distinct_ratio"),
        (F.max("cnt") / F.sum("cnt")).alias("top_token_share"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
LONG_NUM_RE = "[0-9][0-9 .-]{6,}[0-9]"


def redact_pii(
    text: Column,
    email_token: str = "<EMAIL>",
    number_token: str = "<NUM>",
) -> Column:
    """Mask emails and long digit runs (phone/card shapes) with
    placeholder tokens. Both patterns are RE2-compatible so external
    systems (and the DuckDB oracle) reproduce the exact output.

    Scale: pure codegen projection — two ``regexp_replace`` passes, no
    UDF, no shuffle; linear in corpus bytes and embarrassingly parallel.
    The generalized layer (configurable ordered patterns, replacement
    counts, paired SQL generator) is ``operators/pii.py`` (x211); this
    keeps the x51 two-pattern contract and delegates the chain there.
    """
    from dirty_js_etl_spark.operators.pii import chain_redact

    return chain_redact(
        text,
        [("email", EMAIL_RE, email_token), ("number", LONG_NUM_RE, number_token)],
    )


def pii_report(
    df: DataFrame, id_col: str, text: Column
) -> DataFrame:
    """Per-row redaction report: ``(id, clean_text, n_emails, n_numbers)``."""
    n_emails = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0))
    n_numbers = F.size(
        F.regexp_extract_all(
            F.regexp_replace(text, EMAIL_RE, "<EMAIL>"),
            F.lit(LONG_NUM_RE),
            0,
        )
    )
    return df.select(
        F.col(id_col),
        redact_pii(text).alias("clean_text"),
        n_emails.cast("int").alias("n_emails"),
        n_numbers.cast("int").alias("n_numbers"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling (Efraimidis–Spirakis A-Res, deterministic)
# ---------------------------------------------------------------------------


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Weighted deterministic sample WITHOUT replacement of ``k`` rows,
    where heavier ``weight_col`` rows are proportionally more likely to
    be kept — a Pareto-race variant of Efraimidis–Spirakis with the
    uniform draw derived from ``md5(id)`` instead of an RNG.

    Each row gets key ``w / u`` with integer ``u = h+1 ∈ [1, 2^32]``
    from the first 8 hex digits of the id's md5; the top-k keys are the
    sample. ``w/u`` is Pareto(scale=w): pairwise win probability
    ``P(i beats j) = 1 - w_j/(2·w_i)`` for ``w_i ≥ w_j`` (vs. A-Res's
    ``w_i/(w_i+w_j)``) — same weight-monotone semantics, but the key is
    ONE correctly-rounded IEEE division of two exactly-representable
    integers (w, u < 2^53), so every engine computes bit-identical keys.
    A-Res's ``u^(1/w)`` rides transcendental ``pow``, which is NOT
    correctly rounded and may flip adjacent ranks across libm
    implementations; this spelling is exact, hence SQL-oracle-checkable
    (x100). Fully deterministic: the same ids always produce the same
    sample, across retries, partitionings, and cluster sizes — the
    property corpus mixing needs for reproducible training sets.

    Scale: key computation is a map-only projection; top-k is Spark's
    TakeOrdered (per-partition heap + driver merge of k·P rows), no
    global sort, no shuffle of the full table. Rows with weight <= 0 are
    excluded (their inclusion probability is 0).
    """
    hex8 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    u = F.conv(hex8, 16, 10).cast("double") + F.lit(1.0)
    key = F.col(weight_col).cast("double") / u
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__ws_key", key)
        .orderBy(F.desc("__ws_key"), F.col(id_col))
        .limit(k)
        .drop("__ws_key")
    )


# ---------------------------------------------------------------------------
# Paragraph/chunk-level corpus dedup (CCNet / RefinedWeb line dedup)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Sub-document dedup: split each doc into fixed-``chunk_tokens``
    word chunks (the fixtures carry no line breaks, so chunks stand in
    for the paragraphs/lines CCNet-style pipelines dedup), remove every
    chunk that already appeared earlier in the corpus (global first
    occurrence by ``(id, pos)`` wins), and reassemble the surviving text.

    Returns ``(id, n_chunks, n_kept, text_dedup)`` — ``text_dedup`` is
    NULL when every chunk of the doc was a duplicate (the doc should be
    dropped entirely).

    Scale: chunking is a map-only projection (``transform`` over a
    ``sequence`` — no UDF); the dedup decision is ONE hash shuffle keyed
    by the chunk digest (row_number window — uniform keys, a hot
    boilerplate chunk concentrates only its own copies); reassembly is a
    second shuffle keyed by doc id (uniform). Chunk text rides the
    shuffles once each; at 100 TB the digest-keyed exchange is the same
    shape as exact_dedup's fingerprint shuffle, just ~n_chunks× the
    rows — still narrow, still spillable, no broadcasts, no skew beyond
    the true duplicate mass.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
        ),
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(chunks).alias("pos", "para")
    )
    w = Window.partitionBy(F.md5(F.col("para"))).orderBy(id_col, "pos")
    ranked = exploded.withColumn("__rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct(F.col("pos"), F.col("para"))
    )
    agg = ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.count(kept_struct).cast("long").alias("n_kept"),
        F.sort_array(F.collect_list(kept_struct)).alias("__kept"),
    )
    return agg.select(
        id_col,
        "n_chunks",
        "n_kept",
        F.when(
            F.col("n_kept") > 0,
            F.array_join(
                F.transform(F.col("__kept"), lambda s: s["para"]), " "
            ),
        ).alias("text_dedup"),
    )


# ---------------------------------------------------------------------------
# Containment-scored decontamination (fraction-of-doc overlap)
# ---------------------------------------------------------------------------


def containment_scores(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-doc n-gram CONTAINMENT against an eval set: the fraction of
    the doc's distinct word n-grams that appear anywhere in the eval
    corpus (``|doc ∩ eval| / |doc|``). Complements :func:`decontaminate`
    (absolute hit count): containment normalizes by doc length, so a
    50-gram doc with 30 eval grams is flagged while a 100k-gram doc with
    the same 30 is not.

    Returns ``(id, n_grams, n_matched, containment, flagged)``.

    Scale: ONE shingle pass over the corpus and ONE doc-keyed shuffle —
    the denominator and the hit count come out of the same aggregation
    (``word_shingles`` is distinct per doc, so ``count(*)`` after the
    explode IS |doc|; the broadcast LEFT join against the eval grams
    marks hits without dropping rows, so zero-hit docs keep their
    denominator). Eval grams are small by construction and broadcast.
    """
    grams = word_shingles(F.col(text_col), k=n)  # already distinct
    eval_grams = (
        eval_set.select(F.explode(grams).alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    exploded = corpus.select(F.col(id_col), F.explode(grams).alias("g"))
    agg = (
        exploded.join(F.broadcast(eval_grams), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count("__hit").cast("long").alias("n_matched"),
        )
    )
    containment = F.col("n_matched") / F.col("n_grams")
    return agg.select(
        id_col,
        "n_grams",
        "n_matched",
        containment.alias("containment"),
        (containment >= F.lit(threshold)).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Domain-level quality gating (RefinedWeb-style source filtering)
# ---------------------------------------------------------------------------


def domain_quality(
    df: DataFrame,
    quality_col: Column,
    domain_col: str = "source",
) -> DataFrame:
    """Aggregate a per-doc quality signal to its domain/source and flag
    domains scoring below the corpus-wide mean — the domain-level gate
    web-corpus pipelines apply before per-doc filters (a consistently
    low-quality source is dropped wholesale).

    Returns ``(domain, n_docs, avg_quality, below_avg)``.

    Scale: one hash aggregation keyed by domain (domains number in the
    millions at web scale — far beyond broadcast, fine for a shuffle);
    the corpus-wide mean is a 1-row aggregate attached by broadcast
    cross-join, the scalar-subquery pattern (x56). Quality sums ride
    DECIMAL(28,6) so the aggregate is exact/associative regardless of
    partition order (the float-determinism rule from the module header
    of queries.py); the published average is cast back to double.
    """
    q6 = quality_col.cast("decimal(28,6)")
    per_dom = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(q6).alias("__qsum"),
    )
    # exact decimal sums; ONE double division each side (deterministic,
    # engine-portable — decimal÷decimal rescale rounding is not)
    avg_q = F.col("__qsum").cast("double") / F.col("n_docs")
    overall = per_dom.agg(
        (F.sum("__qsum").cast("double") / F.sum("n_docs")).alias("__gmean")
    )
    return (
        per_dom.crossJoin(F.broadcast(overall))
        .select(
            "domain",
            "n_docs",
            avg_q.alias("avg_quality"),
            (avg_q < F.col("__gmean")).alias("below_avg"),
        )
    )


# ---------------------------------------------------------------------------
# Exact repeated-substring coverage (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — the ExactSubstr signal)
# ---------------------------------------------------------------------------


def repeated_span_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    stride: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Per-document coverage by character spans that appear ≥
    ``min_count`` times anywhere in the corpus (including within the
    same document) — the exact-substring duplication signal used to
    filter memorization-prone training text.

    Returns ``(id, n_chars, repeated_chars, repeated_ratio)``.

    Method: strided fingerprinting. Every ``stride``-aligned character
    window of length ``window`` is hashed; windows whose hash occurs ≥
    ``min_count`` times mark their span as repeated, and per-doc
    coverage is the length of the UNION of marked spans (classic
    gaps-and-islands over a per-doc window). With stride s and window
    w, any repeated substring of length ≥ w + s − 1 contains at least
    one aligned window on each occurrence, so detection is guaranteed
    above that length and coverage is measured at window granularity.

    Scale: the fingerprint explode is map-only (``sequence`` +
    ``substring`` + ``xxhash64`` — no UDF, |text|/s narrow rows per
    doc); one hash aggregation on the 8-byte fingerprint (uniform
    keys); one doc-keyed window for the interval union. Nothing
    corpus-scaled is broadcast or collected. A true suffix-array pass
    (the paper's exact method) is a single-node algorithm; strided
    fingerprints are the standard distributed surrogate and the stride
    bounds the blow-up factor at |text|/s rows.
    """
    txt = F.col(text_col)
    n = F.length(txt)
    starts = F.sequence(
        F.lit(1), F.greatest(n - window + 1, F.lit(1)), F.lit(stride)
    )
    grams = (
        df.select(
            F.col(id_col).alias("id"),
            txt.alias("__t"),
            n.alias("__n"),
            F.explode(starts).alias("off"),
        )
        .select(
            "id",
            "off",
            F.least(F.lit(window), F.col("__n") - F.col("off") + 1).alias(
                "glen"
            ),
            F.xxhash64(
                F.col("__t").substr(F.col("off"), F.lit(window))
            ).alias("h"),
        )
    )
    counts = grams.groupBy("h").agg(F.count(F.lit(1)).alias("__c"))
    rep = (
        grams.join(counts, "h")
        .filter(F.col("__c") >= min_count)
        .select("id", "off", "glen")
    )
    # interval union per doc: a span's contribution is clipped at the
    # running max end of all earlier spans (gaps-and-islands)
    w_prev = (
        Window.partitionBy("id")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("off") + F.col("glen")).over(w_prev)
    contrib = F.greatest(
        F.lit(0),
        (F.col("off") + F.col("glen"))
        - F.greatest(F.col("off"), F.coalesce(prev_end, F.lit(0))),
    )
    cov = (
        rep.select("id", contrib.alias("__cov"))
        .groupBy("id")
        .agg(F.sum("__cov").cast("long").alias("repeated_chars"))
    )
    return (
        df.select(F.col(id_col).alias("id"), n.alias("n_chars"))
        .join(cov, "id", "left")
        .select(
            "id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.coalesce("repeated_chars", F.lit(0))
            .cast("long")
            .alias("repeated_chars"),
            # raw integer-count ratio — no decimal re-round (the kmv
            # discipline; see tools/round_audit.py)
            (
                F.coalesce("repeated_chars", F.lit(0)).cast("double")
                / F.col("n_chars")
            ).alias("repeated_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic training shuffle + sharding
# ---------------------------------------------------------------------------


def training_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: int = 0,
) -> DataFrame:
    """Assign every document a ``(shard, pos)`` for training: a
    content-hash shard and a deterministic position within the shard —
    the epoch-reproducible global shuffle every training run needs
    (same seed → identical order on any cluster/partitioning; new seed
    → an independent permutation).

    Returns ``(id, shard, pos)``; ``pos`` is 0-based within its shard.

    Scale: md5 is computed map-side; the only movement is ONE shuffle
    keyed by the (uniform, hash-derived) shard, and the ordering
    window is per-shard — no global sort, no single-partition
    bottleneck. Shard count is the write parallelism; positions within
    a shard order the records of one output file.
    """
    # 15 hex chars < 2^60 — exact in a BIGINT on both engines
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("shard").orderBy("hkey", "id")
    return (
        df.select(F.col(id_col).alias("id"), h.alias("hkey"))
        .withColumn("shard", F.pmod("hkey", F.lit(n_shards)).cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select("id", "shard", "pos")
    )


# ---------------------------------------------------------------------------
# N-gram novelty profiling (corpus freshness over ingestion order)
# ---------------------------------------------------------------------------


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per document: how much of it is NEW — the fraction of its
    distinct word n-grams whose first corpus occurrence (by ascending
    id = ingestion order) is this document. The curve of novelty over
    ingestion order is the standard diminishing-returns diagnostic for
    whether more of the same source still adds information.

    Returns ``(id, n_grams, novel_grams, novelty_ratio)``.

    Scale: explode distinct grams (map-only), ONE hash agg keyed by the
    gram for ``min(id)``, one id-keyed agg for the per-doc counts. The
    gram→first-owner join is gram-keyed (uniform hashes); nothing is
    broadcast or collected.
    """
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), k=n)).alias("g"),
    )
    first = grams.groupBy("g").agg(F.min("id").alias("__first"))
    return (
        grams.join(first, "g")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("__first") == F.col("id")).cast("long"))
            .cast("long")
            .alias("novel_grams"),
        )
        .select(
            "id",
            "n_grams",
            "novel_grams",
            # raw integer-count ratio — no decimal re-round (kmv
            # discipline)
            (
                F.col("novel_grams").cast("double") / F.col("n_grams")
            ).alias("novelty_ratio"),
        )
    )
