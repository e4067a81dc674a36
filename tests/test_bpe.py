"""Distributed BPE merge learning (operators/bpe.py): hand-computed
merge table on the classic toy corpus, partition-invariance, and
apply/train consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.bpe import (
    apply_bpe,
    learn_bpe_merges,
    word_frequencies,
)


@pytest.fixture(scope="module")
def toy(spark):
    return spark.createDataFrame(
        [(1, "low low low lower lower newest newest newest newest widest")],
        "doc_id long, text string",
    )


def test_merge_table_hand_computed(spark, toy):
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in learn_bpe_merges(toy, 3).orderBy("rank").collect()
    ]
    # we: 4 (newest) + 2 (lower) = 6; then lo: 5, st: 5 (lexicographic
    # l < s tie-break)
    assert got == [
        (0, "w", "e", "we", 6),
        (1, "l", "o", "lo", 5),
        (2, "s", "t", "st", 5),
    ]


def test_partition_invariant(spark):
    docs = spark.createDataFrame(
        [(i, "some words repeat some words here") for i in range(20)],
        "doc_id long, text string",
    )
    a = learn_bpe_merges(docs, 6).collect()
    b = learn_bpe_merges(docs.repartition(7), 6).collect()
    assert a == b


def test_apply_preserves_characters(spark, toy):
    merges = [
        (r["left"], r["right"])
        for r in learn_bpe_merges(toy, 5).orderBy("rank").collect()
    ]
    out = apply_bpe(toy, merges).select("bpe_tokens").collect()[0][0]
    # merging never creates or destroys characters: stripping the
    # end-of-word markers reconstructs the normalized text
    rebuilt = "".join(t.replace("</w>", " ") for t in out).strip()
    assert rebuilt == "low low low lower lower newest newest newest newest widest"


def test_word_frequencies_one_row_per_word(spark, toy):
    wf = {r["word"]: r["freq"] for r in word_frequencies(toy).collect()}
    assert wf == {"low": 3, "lower": 2, "newest": 4, "widest": 1}


def test_greedy_fold_overlapping_pair(spark):
    # classic edge: pair (a,a) over "aaa" merges left-to-right -> [aa, a]
    docs = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    m = learn_bpe_merges(docs, 1).collect()
    assert (m[0]["left"], m[0]["right"]) == ("a", "a")
    out = apply_bpe(docs, [("a", "a")]).select("bpe_tokens").collect()[0][0]
    assert out == ["aa", "a", "</w>"]


def test_batched_trainer_equals_sequential(spark):
    # the safe-batch acceptance rule must be invisible in the output:
    # bit-identical merge tables at batch sizes 1 (strict sequential),
    # 4, and 8 — including on a corpus with count ties and overlapping
    # candidate pairs
    docs = spark.createDataFrame(
        [
            (1, "low low low lower lower newest newest newest newest widest"),
            (2, "the them then there these the them banana bandana"),
            (3, "aaa aab aba abab ababab banana"),
        ],
        "doc_id long, text string",
    )
    seq = learn_bpe_merges(docs, 10, batch_size=1).orderBy("rank").collect()
    for b in (4, 8):
        got = learn_bpe_merges(docs, 10, batch_size=b).orderBy("rank").collect()
        assert got == seq, f"batch_size={b} diverged"


def test_batched_trainer_uses_fewer_jobs(spark):
    # job-count economics: on a corpus with a Zipfian (distinct-count)
    # pair distribution the batched trainer must finish N merges in
    # ~N/B collect rounds, not N (ties degrade gracefully to sequential
    # — the toy corpus above is all ties and still bit-matches)
    from unittest.mock import patch

    import dirty_js_etl_spark.operators.bpe as bpe

    # four words with disjoint characters, each repeating its own bigram
    # 3x with one-off separators ("abuabvab"): the four bigram pairs get
    # counts 39/33/30/27 (disjoint, strictly decreasing) while every
    # noise pair sits at <= 13 — the shape where the safe-batch prefix
    # goes wide. Real corpora are Zipfian and look like this at the top.
    words = {
        "abuabvab": 13,
        "cdwcdxcd": 11,
        "egyegzeg": 10,
        "fhifhjfh": 9,
    }
    docs = spark.createDataFrame(
        [(0, " ".join(" ".join([w] * f) for w, f in words.items()))],
        "doc_id long, text string",
    )
    calls = {"n": 0}
    orig = bpe._pair_counts

    def counting(vocab):
        calls["n"] += 1
        return orig(vocab)

    with patch.object(bpe, "_pair_counts", counting):
        batched = learn_bpe_merges(docs, 4, batch_size=4).orderBy("rank").collect()
    batched_rounds = calls["n"]
    calls["n"] = 0
    with patch.object(bpe, "_pair_counts", counting):
        seq = learn_bpe_merges(docs, 4, batch_size=1).orderBy("rank").collect()
    assert batched == seq
    assert batched_rounds == 1, batched_rounds  # one collect for all 4
    assert calls["n"] == 4  # vs one per merge sequentially


def test_safe_batch_ends_at_colliding_merge():
    # the created-pair bound assumes each accepted merge's output symbol
    # is fresh; a candidate whose a+b matches a previously-emitted merge
    # (or </w>) must end the batch
    from dirty_js_etl_spark.operators.bpe import _safe_batch

    top = [
        {"a": "t", "b": "h", "pair_count": 100},
        {"a": "a", "b": "n", "pair_count": 50},  # 'an' already exists
        {"a": "e", "b": "r", "pair_count": 30},
    ]
    got = _safe_batch(top, 3, existing={"</w>", "an"})
    assert [(r["a"], r["b"]) for r in got] == [("t", "h")]
    # a colliding ARGMAX is exact alone: batch of exactly one
    got = _safe_batch(top, 3, existing={"</w>", "th"})
    assert [(r["a"], r["b"]) for r in got] == [("t", "h")]
    # no collision: the disjoint prefix is accepted as before
    got = _safe_batch(top, 3, existing={"</w>"})
    assert [(r["a"], r["b"]) for r in got] == [
        ("t", "h"), ("a", "n"), ("e", "r")
    ]


def test_capped_trainer(spark):
    docs = spark.createDataFrame(
        [
            (1, "low low low lower lower newest newest newest newest widest"),
            (2, "the them then there these the them banana bandana"),
        ],
        "doc_id long, text string",
    )
    exact = learn_bpe_merges(docs, 6).orderBy("rank").collect()
    # cap >= distinct word count: identical to the exact trainer
    wide = learn_bpe_merges(docs, 6, max_words=1000).orderBy("rank").collect()
    assert wide == exact
    # tight cap: still a valid deterministic table over the top words
    capped = learn_bpe_merges(docs, 6, max_words=3).orderBy("rank").collect()
    again = learn_bpe_merges(docs, 6, max_words=3).orderBy("rank").collect()
    assert capped == again
    assert all(r["merged"] == r["left"] + r["right"] for r in capped)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        learn_bpe_merges(docs, 2, max_words=0)


def test_apply_bpe_batched_matches_fold(spark):
    # the Arrow-batched production apply (min-rank iteration, dict
    # lookups — merge-table-size independent) must agree with the
    # JVM fold path on real corpora, including ties/overlaps
    from dirty_js_etl_spark.operators.bpe import apply_bpe_batched

    docs = spark.createDataFrame(
        [
            (1, "low low low lower lower newest newest newest newest widest"),
            (2, "the them then there these the them banana bandana"),
            (3, "aaa aab aba abab ababab banana"),
            (4, "  MIXED   Case \t whitespace  runs "),
            (5, None),  # NULL text -> NULL bpe_tokens on both paths
            # NBSP is NOT whitespace to normalize_text (Java \s is the
            # ASCII class): "low low" is ONE word on both paths
            (6, "low\u00a0low lower\u00a0"),
        ],
        "doc_id long, text string",
    )
    merges = [
        (r["left"], r["right"])
        for r in learn_bpe_merges(docs, 10).orderBy("rank").collect()
    ]
    fold = {r["doc_id"]: r["bpe_tokens"] for r in apply_bpe(docs, merges).collect()}
    batched = {
        r["doc_id"]: r["bpe_tokens"]
        for r in apply_bpe_batched(docs, merges).collect()
    }
    assert batched == fold
    # schema: source columns preserved + bpe_tokens appended, and the
    # source frame's own schema is NOT mutated by the construction
    out = apply_bpe_batched(docs, merges)
    assert out.columns == ["doc_id", "text", "bpe_tokens"]
    assert docs.columns == ["doc_id", "text"]


def test_apply_bpe_batched_large_merge_table(spark):
    # a production-size merge table must not blow up the plan: the fold
    # path would build one nested aggregate per merge; the batched path
    # ships a dict. 3000 synthetic merges (mostly inapplicable) over a
    # small corpus completes as a single map stage.
    from dirty_js_etl_spark.operators.bpe import apply_bpe_batched

    docs = spark.createDataFrame(
        [(1, "aa ab ba bb aa ab"), (2, "ba bb aa")],
        "doc_id long, text string",
    )
    merges = [("a", "a"), ("b", "b")] + [
        (f"q{i}", f"z{i}") for i in range(3000)
    ]
    out = {r["doc_id"]: r["bpe_tokens"] for r in apply_bpe_batched(docs, merges).collect()}
    assert out[1] == ["aa", "</w>", "a", "b", "</w>", "b", "a", "</w>",
                      "bb", "</w>", "aa", "</w>", "a", "b", "</w>"]


def test_batch_size_validated(spark, toy):
    with pytest.raises(ValueError, match="batch_size"):
        learn_bpe_merges(toy, 2, batch_size=0)


# ---------------------------------------------------------------------------
# property tests (driver-side only, no Spark jobs)
# ---------------------------------------------------------------------------


def test_safe_batch_properties():
    # for arbitrary sorted candidate tables and collision sets, the
    # accepted batch is (1) a non-empty prefix of the disjoint chain,
    # (2) mutually symbol-disjoint, (3) fresh except possibly its head,
    # and (4) strictly above the cutoff after the head
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dirty_js_etl_spark.operators.bpe import _safe_batch

    sym = st.text(alphabet="abcd", min_size=1, max_size=2)

    @st.composite
    def candidate_tables(draw):
        n = draw(st.integers(min_value=1, max_value=8))
        pairs = draw(
            st.lists(
                st.tuples(sym, sym), min_size=n, max_size=n, unique=True
            )
        )
        counts = sorted(
            draw(
                st.lists(
                    st.integers(min_value=1, max_value=50),
                    min_size=n,
                    max_size=n,
                )
            ),
            reverse=True,
        )
        rows = [
            {"a": a, "b": b, "pair_count": c}
            for (a, b), c in zip(sorted(pairs), counts)
        ]
        rows.sort(key=lambda r: (-r["pair_count"], r["a"], r["b"]))
        existing = draw(
            st.frozensets(
                st.sampled_from([r["a"] + r["b"] for r in rows] + ["</w>"]),
                max_size=3,
            )
        )
        want = draw(st.integers(min_value=1, max_value=n))
        return rows, want, existing

    @settings(max_examples=200, deadline=None)
    @given(candidate_tables())
    def run(case):
        rows, want, existing = case
        got = _safe_batch(rows, want, existing)
        assert 1 <= len(got) <= want
        assert got == rows[: len(got)]  # a prefix, in order
        used: set[str] = set()
        for i, r in enumerate(got):
            syms = {r["a"], r["b"], r["a"] + r["b"]}
            assert not (syms & used)
            if i > 0:  # non-head rows must be fresh
                assert r["a"] + r["b"] not in existing
            used |= syms
        if len(rows) > len(got):
            cutoff = rows[len(got)]["pair_count"]
            for r in got[1:]:
                assert r["pair_count"] > cutoff

    run()


def test_portable_hash_parity_with_duckdb(spark):
    # the x7 oracle only works if both engines hash every token to the
    # same 60-bit value; pin it over randomized strings
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dirty_js_etl_spark.operators.dedup import portable_token_hash60
    from pyspark.sql import functions as F

    con = duckdb.connect()
    texts = st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=12,
        ),
        min_size=1,
        max_size=8,
        unique=True,
    )

    @settings(max_examples=10, deadline=None)
    @given(texts)
    def run(words):
        df = spark.createDataFrame([(w,) for w in words], "w string")
        sp = {
            r["w"]: r["h"]
            for r in df.select(
                "w", portable_token_hash60(F.col("w")).alias("h")
            ).collect()
        }
        for w in words:
            d = con.execute(
                "SELECT CAST('0x' || substring(md5(?), 1, 15) AS BIGINT)",
                [w],
            ).fetchone()[0]
            assert sp[w] == d, w

    run()
