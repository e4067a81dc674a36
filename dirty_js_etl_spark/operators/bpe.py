"""Distributed BPE merge learning (Sennrich et al., ACL 2016) — the
tokenizer-training step of an LLM data pipeline, expressed as DataFrame
aggregations (north-star extension; the reference,
`bruslim/dirty-js-etl`, has no text surface at all — SURVEY.md §2.3).

Shape of the computation, per merge iteration:

1. pair counting: explode each word's adjacent symbol pairs, weighted
   by corpus word frequency → one narrow hash aggregation;
2. argmax: the single best pair (max count, lexicographic tie-break)
   via a k=1 TakeOrdered — ONE row to the driver per iteration (the
   learned merge itself — irreducible driver traffic);
3. apply: greedy left-to-right merge of that pair inside every word's
   symbol array — a pure ``F.aggregate`` fold, JVM-side, map-only.

Scale design: everything operates on the WORD-FREQUENCY relation
(distinct words + counts), not the corpus — the standard trick that
makes BPE tractable: 100 TB of text folds to O(100M) distinct words in
one shuffle, and iterations never touch the corpus again. Each
iteration then costs one narrow pair-count shuffle over the vocab
relation. Lineage is truncated with a lazy localCheckpoint every few
merges so the plan does not grow linearly with merge count. This
per-iteration-job formulation is honest about its regime: fine for
hundreds of merges (data-engine territory); a production 30k-merge
tokenizer run samples the word table down first (the operator composes
with weighted_sample/stratified_sample for exactly that) or switches to
a single-node incremental-heap trainer over the REDUCED word table —
which at ~100M rows fits one beefy node; the distributed win here is
the 100 TB → word-table reduction and the per-merge scans staying in
Spark when the vocab table itself is too big to ship.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.text import normalize_text

_EOW = "</w>"  # end-of-word marker, per the original BPE formulation


def word_frequencies(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus → ``(word, freq)``: the one corpus-wide shuffle."""
    words = F.explode(F.split(normalize_text(F.col(text_col)), " "))
    return (
        df.select(words.alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    """Word → array of single-character symbols + terminal marker."""
    chars = F.split(word, "")
    # Spark's split("abc", "") yields ["a","b","c"] (no trailing empty)
    return F.concat(chars, F.array(F.lit(_EOW)))


def _merge_fold(symbols: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) → a+b inside one
    symbol array — a pure ``aggregate`` fold with (out, pending) state,
    whole-stage-codegen'd, no UDF. Matches classic BPE apply semantics
    (e.g. pair (x,x) over [x,x,x] → [xx, x])."""
    merged = F.lit(a + b)
    out_t = "array<string>"

    def step(acc, x):
        flush = F.when(
            acc["pend"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pend"])))
        return F.when(
            acc["pend"].eqNullSafe(F.lit(a)) & (x == F.lit(b)),
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(
            F.struct(flush.alias("out"), x.alias("pend"))
        )

    init = F.struct(
        F.array().cast(out_t).alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )
    return F.aggregate(
        symbols,
        init,
        step,
        lambda acc: F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        ),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the weighted vocab: explode
    ``zip(symbols, symbols[1:])`` → one hash aggregation."""
    pairs = F.zip_with(
        F.slice(F.col("symbols"), 1, F.size("symbols") - 1),
        F.slice(F.col("symbols"), 2, F.size("symbols") - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    return (
        vocab.filter(F.size("symbols") >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def _safe_batch(top: list, want: int, existing: frozenset | set = frozenset()) -> list:
    """Select a maximal prefix of the sorted candidate pairs that is
    PROVABLY equivalent to taking them one sequential argmax at a time.

    ``top`` is the candidate list sorted by (count desc, a asc, b asc),
    of length up to ``want + 1`` (the +1 row supplies the cutoff count).
    Two facts make a prefix safe:

    1. *Disjointness*: if ``{a_i, b_i, a_i+b_i}`` is disjoint from every
       earlier accepted merge's ``{a_j, b_j, a_j+b_j}``, applying those
       merges can neither destroy nor create an ``(a_i, b_i)`` adjacency
       — p_i's count at its sequential step is exactly the count here.
    2. *Created-pair bound*: merging ``(a_j, b_j)`` creates pairs
       ``(x, m_j)`` / ``(m_j, y)``, each occurrence backed by an
       ``(x, a_j)`` / ``(b_j, y)`` adjacency in the CURRENT table. Such
       overlapping pairs are never in the (disjoint) accepted prefix, so
       their counts are ≤ the first non-accepted candidate's count
       (``cutoff``). Requiring every accepted count after the first to
       be STRICTLY greater than the cutoff guarantees no created pair
       can out-rank an accepted one mid-batch (ties are unsafe: a
       created pair tying on count could win the lexicographic
       tie-break). Existing (non-created) pairs only ever lose
       occurrences, so their sort order vs the prefix is preserved.

    Both facts assume each accepted merge's output symbol ``a+b`` is
    FRESH — not already a vocab symbol. If ``a+b`` collides with an
    existing symbol (same string formed earlier via a different merge
    chain, or the ``</w>`` marker), merge-created occurrences of
    ``(x, a+b)`` combine with the pre-existing pair's count and
    old(≤cutoff) + created(≤cutoff) can exceed the cutoff, silently
    diverging from batch_size=1. ``existing`` is the exact
    characterization of non-freshness: every vocab symbol is a single
    character, the ``</w>`` marker, or a previously-emitted merge
    output, and ``a+b`` is always ≥2 chars — so the batch ends at the
    first candidate whose merged string is in ``existing`` (the
    candidate itself is still safe alone when it leads the batch: a
    single argmax is sequentially exact by definition).

    Worst case (flat count distribution) this degrades to the exact
    sequential trainer (batch of 1); on Zipfian corpora the top counts
    are distinct and batches stay near ``want``.
    """
    accepted = [top[0]]
    used = {top[0]["a"], top[0]["b"], top[0]["a"] + top[0]["b"]}
    if top[0]["a"] + top[0]["b"] in existing:
        # colliding argmax: exact on its own, but the created-pair bound
        # below it no longer holds — end the batch here
        return accepted
    for row in top[1:want]:
        syms = {row["a"], row["b"], row["a"] + row["b"]}
        if syms & used:
            break
        if row["a"] + row["b"] in existing:
            break
        accepted.append(row)
        used |= syms
    cutoff = (
        top[len(accepted)]["pair_count"] if len(top) > len(accepted) else 0
    )
    while len(accepted) > 1 and accepted[-1]["pair_count"] <= cutoff:
        cutoff = accepted[-1]["pair_count"]
        accepted.pop()
    return accepted


def learn_bpe_merges(
    corpus: DataFrame,
    n_merges: int,
    text_col: str = "text",
    checkpoint_every: int = 4,
    batch_size: int = 8,
    max_words: int | None = None,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus; returns the merge
    table as a DataFrame ``(rank, left, right, merged, pair_count)`` —
    fully deterministic (integer counts, lexicographic tie-break), so
    two runs on the same corpus produce identical tables regardless of
    partitioning.

    Each round collects the top ``batch_size + 1`` pairs and accepts the
    maximal provably-sequential-equivalent prefix (:func:`_safe_batch`),
    so cluster round-trips are O(n_merges / batch_size) instead of one
    per merge while the merge table stays bit-identical
    to ``batch_size=1`` (pytest-pinned). ``batch_size=1`` recovers the
    strict one-argmax-per-job trainer.

    ``max_words`` caps the word-frequency table to the top-``max_words``
    words (freq desc, word asc — a distributed TakeOrdered, no full
    sort) before the merge loop: the standard production-scale move for
    a 30k-merge vocabulary, since word frequencies are Zipfian and a
    few million distinct words cover ≥99.9% of corpus tokens.
    Equivalence bound: dropping tail words removes at
    most ``D`` = the dropped words' total token mass from every pair
    count, so any merge decided by a count margin > ``D`` over its
    runner-up (and over the tie-break) is unchanged; merges inside that
    margin may reorder or differ — the capped table is an approximation
    with error bounded by the dropped mass, NOT bit-identical.
    ``max_words=None`` (default) keeps the exact trainer and its
    bit-identical pytest.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    spark = corpus.sparkSession
    wf = word_frequencies(corpus, text_col)
    if max_words is not None:
        if max_words < 1:
            raise ValueError(f"max_words must be >= 1, got {max_words}")
        wf = wf.orderBy(F.desc("freq"), F.asc("word")).limit(max_words)
    vocab = wf.select(
        _initial_symbols(F.col("word")).alias("symbols"), "freq"
    )
    rows = []
    # exact non-freshness set for _safe_batch: vocab symbols are single
    # chars, the </w> marker, or previously-emitted merge outputs
    emitted: set[str] = {_EOW}
    folds_since_ckpt = 0
    while len(rows) < n_merges:
        want = min(batch_size, n_merges - len(rows))
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
            .limit(want + 1)
            .collect()
        )
        if not top:
            break
        for row in _safe_batch(top, want, emitted):
            a, b, cnt = row["a"], row["b"], row["pair_count"]
            rows.append((len(rows), a, b, a + b, cnt))
            emitted.add(a + b)
            vocab = vocab.select(
                _merge_fold(F.col("symbols"), a, b).alias("symbols"), "freq"
            )
            folds_since_ckpt += 1
        if folds_since_ckpt >= checkpoint_every:
            # truncate the per-iteration fold lineage; lazy -> blocks
            # are GC-released with the frame (no session-pinned cache).
            # lazy is safe HERE (unlike dedup.py): vocab has exactly one
            # consumer per round, so the checkpoint materializes as the
            # next job's first stage — no mid-job stage cancellation
            vocab = vocab.localCheckpoint(eager=False)
            folds_since_ckpt = 0
    return spark.createDataFrame(
        rows, "rank int, left string, right string, merged string, pair_count long"
    )


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Tokenize ``text_col`` with a learned merge list: per word, apply
    each merge in rank order (the standard apply loop, unrolled into a
    chain of JVM folds — fine for the modest merge counts this trainer
    targets). Adds ``bpe_tokens array<string>``."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    tok = F.transform(words, lambda w: _initial_symbols(w))

    def merge_word(sym):
        out = sym
        for a, b in merges:
            out = _merge_fold(out, a, b)
        return out

    return df.withColumn(
        "bpe_tokens", F.flatten(F.transform(tok, merge_word))
    )


def apply_bpe_batched(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Arrow-batched BPE apply for PRODUCTION-SIZE merge tables.

    :func:`apply_bpe` unrolls the merge list into a chain of nested JVM
    folds — codegen-friendly at O(10) merges, but a 30k-merge tokenizer
    would build a 30k-deep expression tree (planner blowup long before
    execution). This path is the standard tokenizer algorithm instead
    (Sennrich et al., ACL 2016 reference implementation): per word,
    repeatedly merge the present adjacent pair with the LOWEST rank
    until none applies — O(word_len · merges_applied) per word with a
    dict rank lookup, independent of merge-table size.

    Scale design: map-only ``mapInPandas`` (Arrow batches, no shuffle);
    the merge table ships once per executor inside the closure (a 30k
    table is ~1 MB — closure-size territory, broadcast territory only
    far beyond that). Within each batch, distinct words are tokenized
    once and reused (corpus word frequencies are Zipfian, so the cache
    hit rate is the repetition rate of the batch).

    Equivalence note: applying merges one-at-a-time in rank order (the
    fold path) and min-rank-first iteration (this path) agree except in
    a pathological case — a later merge re-creating an EARLIER merge's
    pair — which requires the earlier pair to be reconstructible from a
    later merge's output symbol; ``tests/test_bpe.py`` pins agreement
    on the fixture corpora. Adds ``bpe_tokens array<string>``.
    """
    rank = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        syms = list(word) + [_EOW]
        while len(syms) >= 2:
            best = None
            best_rank = None
            for p in zip(syms, syms[1:]):
                r = rank.get(p)
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = p, r
            if best is None:
                break
            a, b = best
            merged: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            syms = merged
        cache[word] = syms
        return syms

    # mirror normalize_text (text.py) EXACTLY, not Python's Unicode-aware
    # string methods: F.trim strips only U+0020, and Java-regex \s is the
    # ASCII class [ \t\n\x0B\f\r] (NBSP is a word character to the fold
    # path; Python .strip()/.split() would treat it as whitespace and
    # silently diverge)
    import re

    _ascii_ws = re.compile("[ \t\n\x0b\f\r]+")

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            cache: dict = {}
            toks = []
            for text in pdf[text_col]:
                if text is None or (isinstance(text, float) and text != text) or text is pd.NA:
                    # fold path: normalize/split of NULL is NULL
                    toks.append(None)
                    continue
                text = _ascii_ws.sub(" ", str(text).strip(" ").lower())
                row: list[str] = []
                for w in text.split(" "):
                    if w:
                        row.extend(encode_word(w, cache))
                toks.append(row)
            out = pdf.copy()
            out["bpe_tokens"] = toks
            yield out

    from pyspark.sql import types as T

    # fresh StructType — StructType.add mutates in place, which would
    # corrupt the source DataFrame's cached schema
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("bpe_tokens", T.ArrayType(T.StringType()))]
    )
    return df.mapInPandas(kernel, schema=schema)
