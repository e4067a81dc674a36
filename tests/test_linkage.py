"""Semantics of the record-linkage operators (operators/linkage.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.linkage import (
    blocked_link_pairs,
    resolve_entities,
)


def _records(spark):
    return spark.createDataFrame(
        [
            (1, "acme corp", "a"),
            (2, "acme c0rp", "a"),   # distance 1 from #1
            (3, "acme corps", "a"),  # distance 1 from #1, 2 from #2
            (4, "acme corp", "b"),   # identical to #1 but other block
            (5, "zenith ltd", "a"),  # unmatched
        ],
        "id bigint, rec string, blk string",
    )


def test_blocked_pairs_respect_blocks_and_distance(spark):
    pairs = {
        (r.id_a, r.id_b): r.distance
        for r in blocked_link_pairs(
            _records(spark), "id", "rec", "blk", max_distance=2
        ).collect()
    }
    # within-block close pairs match with their true distance...
    assert pairs[(1, 2)] == 1 and pairs[(1, 3)] == 1 and pairs[(2, 3)] == 2
    # ...but an identical record in ANOTHER block never pairs
    assert not any(4 in p for p in pairs)
    assert not any(5 in p for p in pairs)


def test_hot_block_cap_drops_the_block(spark):
    out = blocked_link_pairs(
        _records(spark), "id", "rec", "blk", max_distance=2, max_block_size=3
    )
    # block 'a' holds 4 records > cap 3 -> no candidates survive
    assert out.count() == 0


def test_resolution_is_transitive_and_keeps_singletons(spark):
    ents = {
        r.id: r.entity_id
        for r in resolve_entities(
            _records(spark), "id", "rec", "blk", max_distance=2
        ).collect()
    }
    # 1~2, 1~3 chain into one entity labeled by the min id
    assert ents[1] == ents[2] == ents[3] == 1
    # cross-block twin and the unmatched record resolve to themselves
    assert ents[4] == 4 and ents[5] == 5
    assert len(ents) == 5


def test_resolution_keeps_null_valued_records(spark):
    # A record whose record or block expression is NULL can never pair (NULL ==
    # NULL is NULL in the block join) but it must still get a row in the
    # output. The NULL-REC case: missing data is not evidence of identity, so
    # NULL-rec records are PER-RECORD singletons — they must NOT fuse with each
    # other (a NULL-heavy column would otherwise silently merge millions of
    # rows into one entity). A NULL BLOCK with a non-null record still
    # collapses identical record values.
    df = spark.createDataFrame(
        [
            (1, "acme corp", "a"),
            (2, "acme c0rp", "a"),
            (3, None, "a"),          # NULL record
            (4, "acme corp", None),  # NULL block
            (5, None, None),         # both NULL
            (6, None, None),         # both NULL — NOT fused with #5
            (7, "acme corp", None),  # identical (rec, NULL blk) as #4
        ],
        "id bigint, rec string, blk string",
    )
    ents = {
        r.id: r.entity_id
        for r in resolve_entities(df, "id", "rec", "blk").collect()
    }
    assert len(ents) == 7  # no row silently dropped
    assert ents[1] == ents[2] == 1
    assert ents[3] == 3
    # NULL-rec records keep their own id — never merged on missing data
    assert ents[5] == 5 and ents[6] == 6
    # identical non-null record values under a NULL block co-resolve
    assert ents[4] == ents[7] == 4


def test_multi_pass_null_recs_stay_singletons(spark):
    # multi_pass_resolve must not collapse all NULL-rec
    # records into one entity — each keeps its own id unless a pair
    # names it directly.
    from dirty_js_etl_spark.operators.linkage import multi_pass_resolve

    df = spark.createDataFrame(
        [(1, "acme"), (2, "acme"), (3, None), (4, None)],
        "id bigint, rec string",
    )
    pairs = spark.createDataFrame(
        [(3, 1)], "id_a bigint, id_b bigint"
    )
    ents = {
        r.id: r.entity_id
        for r in multi_pass_resolve(df, "id", "rec", [pairs]).collect()
    }
    assert len(ents) == 4
    # value clique co-resolves; the explicitly-paired NULL-rec record
    # joins it; the unpaired NULL-rec record stays its own singleton
    assert ents[1] == ents[2] == ents[3] == 1
    assert ents[4] == 4


def test_sorted_neighborhood_is_window_bounded(spark):
    from dirty_js_etl_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    # sort order in block 'a': acme c0rp(2), acme corp(1), acme
    # corps(3), zenith ltd(5) — window=2 pairs only sort-ADJACENT rows
    pairs = {
        (r.id_a, r.id_b): r.distance
        for r in sorted_neighborhood_pairs(
            _records(spark), "id", "rec", "blk", window=2, max_distance=3
        ).collect()
    }
    assert pairs == {(1, 2): 1, (1, 3): 1}
    # window=3 reaches two positions: (2,3) at distance 2 joins
    pairs3 = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(
            _records(spark), "id", "rec", "blk", window=3, max_distance=3
        ).collect()
    }
    assert pairs3 == {(1, 2), (1, 3), (2, 3)}


def test_resolution_matches_pairwise_query_on_fixture(catalog):
    # x205/x206 shape on the real fixture: every matched pair's two
    # sides carry the same entity id
    part = catalog.read("part")
    rec = F.concat_ws("|", "p_name", "p_type")
    blk = F.concat_ws(
        "|", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)), F.col("p_brand")
    )
    pairs = blocked_link_pairs(part, "p_partkey", rec, blk).collect()
    ents = {
        r.id: r.entity_id
        for r in resolve_entities(part, "p_partkey", rec, blk).collect()
    }
    assert pairs, "fixture should produce matches"
    for p in pairs:
        assert ents[p.id_a] == ents[p.id_b]


def test_multi_pass_union_strictly_dominates_each_single_pass(catalog):
    # the composed x209 pipeline exists because each generator has a
    # blind spot; on the fixture the union must merge strictly MORE than
    # any single pass alone (fewer entities), and never split an entity
    # a single pass found (every single-pass merge survives the union).
    from dirty_js_etl_spark.operators.dedup import portable_token_hash60
    from dirty_js_etl_spark.operators.linkage import (
        lsh_link_pairs,
        multi_pass_resolve,
        sorted_neighborhood_pairs,
    )

    part = catalog.read("part")
    rec = F.concat_ws("|", "p_name", "p_type")
    blk5 = F.concat_ws(
        "|", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)), F.col("p_brand")
    )
    passes = {
        "blocked": blocked_link_pairs(part, "p_partkey", rec, blk5, max_distance=2),
        "snm": sorted_neighborhood_pairs(
            part, "p_partkey", rec, F.col("p_brand"), window=6, max_distance=3
        ),
        "lsh": lsh_link_pairs(
            part, "p_partkey", rec, max_distance=2,
            hash_fn=portable_token_hash60, portable_bands=True,
        ),
    }

    def partition(pair_list):
        ents = {}
        for r in multi_pass_resolve(
            part, "p_partkey", rec, pair_list
        ).collect():
            ents.setdefault(r.entity_id, set()).add(r.id)
        return ents

    union = partition(list(passes.values()))
    n_union = len(union)
    member_to_union_entity = {
        m: e for e, ms in union.items() for m in ms
    }
    for name, p in passes.items():
        single = partition([p])
        # strictly more merges than the single pass (fewer entities)
        assert n_union < len(single), f"union does not dominate {name}"
        # refinement: every single-pass entity sits inside one union entity
        for ms in single.values():
            assert len({member_to_union_entity[m] for m in ms}) == 1, (
                f"union split an entity the {name} pass had merged"
            )


def test_weighted_single_field_degenerates_to_blocked_pairs(catalog):
    # Property: with one field and weight 1.0 the
    # weighted scorer IS blocked_link_pairs (score == distance), so the
    # prefilters (length-diff + thresholded levenshtein) are provably
    # lossless on the fixture too.
    from dirty_js_etl_spark.operators.linkage import weighted_link_pairs

    part = catalog.read("part")
    rec = F.concat_ws("|", "p_name", "p_type")
    blk = F.concat_ws(
        "|", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)), F.col("p_brand")
    )
    base = {
        (r.id_a, r.id_b): r.distance
        for r in blocked_link_pairs(
            part, "p_partkey", rec, blk, max_distance=2
        ).collect()
    }
    weighted = {
        (r.id_a, r.id_b): r.score
        for r in weighted_link_pairs(
            part, "p_partkey", [rec], [1.0], blk, max_score=2.0
        ).collect()
    }
    assert weighted == {k: float(v) for k, v in base.items()}


def test_weighted_fields_price_brand_disagreement(spark):
    # the capability the concatenated-record scorer can't express: a
    # one-char name typo within the same brand matches (score 1.0) while
    # a one-char BRAND difference with an identical name is priced at
    # 2.0/char and a 2-char difference is rejected at max_score 3.0
    from dirty_js_etl_spark.operators.linkage import weighted_link_pairs

    df = spark.createDataFrame(
        [
            (1, "acme corp", "Brand#11", "b"),
            (2, "acme c0rp", "Brand#11", "b"),  # name typo, same brand
            (3, "acme corp", "Brand#12", "b"),  # brand off by 1 char
            (4, "acme corp", "Brand#25", "b"),  # brand off by 2 chars
            (5, "acme corp", "Brand#11", "b"),  # exact dup of 1 -> value-deduped
        ],
        "id bigint, name string, brand string, blk string",
    )
    pairs = {
        (r.id_a, r.id_b): r.score
        for r in weighted_link_pairs(
            df, "id", ["name", "brand"], [1.0, 2.0], "blk", max_score=3.0
        ).collect()
    }
    assert pairs == {(1, 2): 1.0, (1, 3): 2.0, (2, 3): 3.0}
    assert not any(4 in p or 5 in p for p in pairs)


def test_lsh_pass_catches_blocking_token_typos(spark):
    """Recall case for the third pass: a typo in
    the BLOCKING token itself escapes the exact-key block entirely —
    the two records land in different blocks — but LSH bands over the
    whole record still bucket them together, and Levenshtein confirms.
    """
    from dirty_js_etl_spark.operators.linkage import lsh_link_pairs

    df = spark.createDataFrame(
        [
            # blocking key = first token; the typo hits IT
            (1, "chartreuse plum powder burnished steel PROMO"),
            (2, "chartreuze plum powder burnished steel PROMO"),
            (3, "navy lace crimson antique nickel ECONOMY"),
        ],
        "id bigint, rec string",
    )
    from dirty_js_etl_spark.operators.linkage import blocked_link_pairs

    exact = blocked_link_pairs(
        df, "id", "rec", F.split_part(F.col("rec"), F.lit(" "), F.lit(1))
    )
    assert exact.count() == 0  # the exact-key pass misses the pair
    lsh = {
        (r.id_a, r.id_b): r.distance
        for r in lsh_link_pairs(df, "id", "rec", max_distance=2).collect()
    }
    assert lsh == {(1, 2): 1}  # ...the LSH pass catches it, verified


def test_lsh_pass_hot_bucket_cap(spark):
    # raw record-level mode (dedup_values=False): every record identical
    # -> one degenerate bucket per band; the cap drops them all rather
    # than emitting the quadratic
    from dirty_js_etl_spark.operators.linkage import lsh_link_pairs

    df = spark.createDataFrame(
        [(i, "same exact record text here") for i in range(30)],
        "id bigint, rec string",
    )
    raw = dict(dedup_values=False)
    assert lsh_link_pairs(df, "id", "rec", max_bucket_size=10, **raw).count() == 0
    assert lsh_link_pairs(df, "id", "rec", **raw).count() == 30 * 29 // 2


def test_lsh_pass_collapses_identical_values_by_default(spark):
    # dedup-then-link: a 30-member identical-value clique is ONE node
    # (no intra-clique pairs — identity linking belongs to the exact
    # pass), and cross-value near matches pair the min-id
    # representatives
    from dirty_js_etl_spark.operators.linkage import lsh_link_pairs

    df = spark.createDataFrame(
        [(i, "same exact record text here") for i in range(10, 40)]
        + [(50, "same exact record text hers")],  # distance 1 variant
        "id bigint, rec string",
    )
    pairs = {
        (r.id_a, r.id_b): r.distance
        for r in lsh_link_pairs(df, "id", "rec", max_distance=2).collect()
    }
    assert pairs == {(10, 50): 1}  # min-id rep of the clique, once


def _clique_records(spark):
    # a 4-member identical-value clique whose min id (10) is not the
    # first row, a distance-1 variant on each side of it in sort order,
    # and a copy of the clique value in another block
    return spark.createDataFrame(
        [
            (12, "acme corp", "a"),
            (10, "acme corp", "a"),
            (14, "acme corp", "a"),
            (11, "acme corp", "a"),
            (20, "acme c0rp", "a"),
            (30, "acme corps", "a"),
            (5, "acme corp", "b"),
        ],
        "id bigint, rec string, blk string",
    )


def test_blocked_pairs_collapse_identical_values(spark):
    # no intra-clique pair; the clique pairs once, under its min id
    pairs = {
        (r.id_a, r.id_b): r.distance
        for r in blocked_link_pairs(
            _clique_records(spark), "id", "rec", "blk", max_distance=2
        ).collect()
    }
    assert pairs == {(10, 20): 1, (10, 30): 1, (20, 30): 2}


def test_sorted_neighborhood_collapses_identical_values(spark):
    # window=2 pairs sort-adjacent values only: record-level ranking
    # would put the four clique members between the two variants and
    # emit clique pairs instead of (10, 30)
    from dirty_js_etl_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    pairs = {
        (r.id_a, r.id_b): r.distance
        for r in sorted_neighborhood_pairs(
            _clique_records(spark), "id", "rec", "blk", window=2,
            max_distance=2,
        ).collect()
    }
    assert pairs == {(10, 20): 1, (10, 30): 1}


# ---------------------------------------------------------------------------
# hypothesis properties vs brute-force references (the x5 idiom)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[len(b)]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=0, max_size=4),
            st.text(alphabet="ab", min_size=0, max_size=3),
            st.sampled_from(["x", "y"]),
        ),
        min_size=2,
        max_size=8,
    )
)
def test_weighted_pairs_equal_brute_force(spark, rows):
    """Random tiny-alphabet field tuples maximize duplicate values,
    zero-length fields, and scores exactly AT the threshold — the
    regimes where a buggy prefilter (length-diff or banded threshold)
    would silently drop a qualifying pair. The prefilters must be
    lossless: output == the plain score inequality, brute-forced."""
    from dirty_js_etl_spark.operators.linkage import weighted_link_pairs

    df = spark.createDataFrame(
        [(i, f0, f1, blk) for i, (f0, f1, blk) in enumerate(rows)],
        "id bigint, f0 string, f1 string, blk string",
    )
    got = {
        (r.id_a, r.id_b): r.score
        for r in weighted_link_pairs(
            df, "id", ["f0", "f1"], [1.0, 2.0], "blk", max_score=2.0
        ).collect()
    }
    # reference: value-dedup to min-id reps, then all rep pairs in-block
    reps = {}
    for i, t in enumerate(rows):
        reps.setdefault(t, i)
    rep_rows = sorted((i, t) for t, i in reps.items())
    exp = {}
    for ai in range(len(rep_rows)):
        for bi in range(ai + 1, len(rep_rows)):
            (ia, (a0, a1, ablk)), (ib, (b0, b1, bblk)) = (
                rep_rows[ai],
                rep_rows[bi],
            )
            if ablk != bblk:
                continue
            score = 1.0 * _lev(a0, b0) + 2.0 * _lev(a1, b1)
            if score <= 2.0:
                exp[(ia, ib)] = score
    assert got == exp


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    recs=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=5),
        min_size=2,
        max_size=8,
    )
)
def test_multi_pass_partition_matches_union_find(spark, recs):
    """The composed resolution must equal a brute-force union-find over
    (a) identical-value cliques and (b) the union of the generated
    pairs — random tiny strings force duplicate values, empty records,
    and pass-representative mismatches (the canonicalization seam)."""
    from dirty_js_etl_spark.operators.linkage import (
        blocked_link_pairs,
        multi_pass_resolve,
        sorted_neighborhood_pairs,
    )

    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(recs)], "id bigint, rec string"
    )
    blk = F.substring("rec", 1, 1)
    p1 = blocked_link_pairs(df, "id", F.col("rec"), blk, max_distance=1)
    p2 = sorted_neighborhood_pairs(
        df, "id", F.col("rec"), blk, window=2, max_distance=2
    )
    got = {
        r.id: r.entity_id
        for r in multi_pass_resolve(df, "id", F.col("rec"), [p1, p2]).collect()
    }
    # union-find over value cliques + collected pairs
    parent = list(range(len(recs)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    byval = {}
    for i, r in enumerate(recs):
        byval.setdefault(r, []).append(i)
    for ids in byval.values():
        for i in ids[1:]:
            union(ids[0], i)
    for p in (p1, p2):
        for row in p.collect():
            union(int(row.id_a), int(row.id_b))
    # min member id per component = the expected entity label
    exp = {}
    comp_min = {}
    for i in range(len(recs)):
        comp_min.setdefault(find(i), i)
    for i in range(len(recs)):
        exp[i] = comp_min[find(i)]
    assert got == exp
