"""Entity resolution / record linkage: blocked candidate generation,
edit-distance scoring, and transitive entity assembly.

The classic large-scale pipeline for "which records describe the same
real-world thing": never all-pairs — a BLOCKING key (a cheap, high-
recall hash of the record: phonetic code, sorted-token prefix, a
category column) bounds candidate generation to within-block pairs,
an edit-distance (or any pair scorer) prunes them, and connected
components over the surviving matches assign one entity id per group
(``operators/dedup.py::dup_clusters`` — the same min-label pointer-
jumping components used for document near-dup clusters; record
linkage IS near-dup dedup over structured records).

Reference scope note: the reference engine has no linkage operator
(its closest concept is the FK memo join, ``mappr.js:290-294``);
this module is SURVEY.md §2.3 extension surface — a first-class
training-data-pipeline capability (catalog dedup before corpus
construction).

Scale notes:

- the block join is ONE shuffle on the block key; candidate work is
  Σ_b |b|² — the operator's contract is that the caller's blocking
  key keeps blocks small, and ``max_block_size`` enforces it (an
  over-hot block — every record blocking to the same value — would
  quietly reintroduce the quadratic; dropping it mirrors the
  stop-shingle cap in the Jaccard pipelines);
- ``levenshtein`` is a JVM built-in (codegen'd, no UDF) evaluated
  INSIDE the join condition, so non-matches die in the join operator
  instead of surviving to a post-filter;
- entity assembly runs on the MATCH graph (pairs), never the full
  record set; unmatched records never enter a shuffle after the
  block join — they re-attach as singletons via one left join.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _spread_for_cpu(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Hash-repartition ``df`` by ``cols`` to the session's
    ``spark.sql.shuffle.partitions`` (``session.SHUFFLE_PARTITIONS``
    unless a deployment sets its own), pinning the count so AQE cannot
    fold the CPU-dense stage above it to one task.

    AQE coalesces post-shuffle partitions toward a BYTE target, which
    is right for scan/agg stages and wrong for the pair enumerators: a
    value-deduped linkage table is a few hundred KB (one partition to
    AQE) while the join above it runs |block| Levenshteins per row (the
    r13 profile measured x210's enumeration as a single 4.5 s task).
    Results are partitioning-invariant (the registry audit pins this),
    so this is a pure plan change."""
    n = int(str(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    return df.repartition(n, *cols)


def blocked_link_pairs(
    df: DataFrame,
    id_col: str,
    record_col: str | Column,
    block_col: str | Column,
    max_distance: int = 2,
    max_block_size: int = 10_000,
) -> DataFrame:
    """Within-block record pairs with Levenshtein distance ≤
    ``max_distance``. Returns (id_a, id_b, distance), id_a < id_b.

    Pairs are VALUE-level: identical (record, block) values collapse to
    their min-id representative before pairing (dedup-then-link), so an
    identical-value clique emits no intra-clique pair and appears once,
    under its min id. On a duplicate-heavy catalog a c-member clique
    would otherwise cost O(c²) join rows and O(c²) output pairs carrying
    no information beyond the value pair (the 10×-replica sf1 fixture
    made record-level pairing emit 4.57M pairs in 283 s; value-level is
    ~100× smaller). Identity linking (same value ⇒ same entity) belongs
    to the exact-dedup pass / :func:`resolve_entities`'s representative
    mapping. The hot-block cap counts distinct VALUES per block."""
    rec = F.col(record_col) if isinstance(record_col, str) else record_col
    blk = F.col(block_col) if isinstance(block_col, str) else block_col
    recs = df.select(
        F.col(id_col).alias("id"), rec.alias("rec"), blk.alias("blk")
    )
    # one value-keyed shuffle (map-side combined min); later stages
    # work on distinct (rec, blk) values, never clique members
    recs = recs.groupBy("rec", "blk").agg(F.min("id").alias("id"))
    sizes = recs.groupBy("blk").agg(F.count(F.lit(1)).alias("__n"))
    recs = (
        recs.join(sizes, "blk").filter(F.col("__n") <= max_block_size).drop("__n")
    )
    # probe side pinned to the configured parallelism: the per-row join
    # work here is |block| Levenshteins, so AQE's byte-based coalescing
    # (the value table is a few hundred KB) would fold the quadratic
    # enumeration to one task. NOTE: the pin
    # is keyed (blk, rec, id) for uniform spread, which does NOT satisfy
    # the join's blk-alone distribution — it only survives (and
    # parallelizes the Levenshtein work) while the build side stays
    # under the broadcast threshold, which holds exactly while the value
    # table stays dimension-sized. If the value table outgrows the
    # threshold at cluster scale, the planner inserts its own blk
    # exchange above this one (correct, but the pin becomes a wasted
    # shuffle of the few-hundred-KB value table — harmless).
    # No broadcast hint on the build side on purpose: a hint would turn
    # a mis-sized value table into an executor OOM instead of a silent
    # fallback to the shuffle join.
    l = _spread_for_cpu(recs, "blk", "rec", "id").alias("l")
    r = recs.alias("r")
    dist = F.levenshtein(F.col("l.rec"), F.col("r.rec"))
    return (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.id") < F.col("r.id"))
            & (dist <= max_distance),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            dist.cast("int").alias("distance"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    record_col: str | Column,
    block_col: str | Column,
    sort_key: str | Column | None = None,
    window: int = 4,
    max_distance: int = 2,
) -> DataFrame:
    """Blocked sorted-neighborhood candidate pairs (the OTHER classic
    linkage generator): within each block, records sort by
    ``sort_key`` (default: the record itself) and each record pairs
    with the next ``window - 1`` in sort order, pruned by Levenshtein
    ≤ ``max_distance``. Catches near-matches hash blocking on the
    record value would split (a typo anywhere in the record usually
    leaves it sort-adjacent); run it as a second pass and union with
    :func:`blocked_link_pairs` for multi-pass linkage.

    Scale: the rank window partitions BY BLOCK (never a global sort),
    and the neighborhood join emits ≤ ``window - 1`` rows per record —
    linear in the corpus, no quadratic block term at all (this is why
    SNM is the pass of choice for blocks too hot to pair exhaustively).
    Returns (id_a, id_b, distance), id_a < id_b.

    Identical (record, block, key) VALUES collapse to their min-id
    representative before ranking — the same dedup-then-link discipline
    as :func:`blocked_link_pairs`, and here it also IMPROVES recall: a
    c-member identical-value clique would otherwise occupy c consecutive
    ranks and crowd genuinely-near distinct values out of the
    neighborhood window, while emitting c·(window−1) no-information
    clique pairs (17.4 s at sf1 on the 10×-replica fixture; value
    level is sub-second and window slots go to distinct values).
    """
    rec = F.col(record_col) if isinstance(record_col, str) else record_col
    blk = F.col(block_col) if isinstance(block_col, str) else block_col
    if sort_key is None:
        key = rec
    else:
        key = F.col(sort_key) if isinstance(sort_key, str) else sort_key
    recs = df.select(
        F.col(id_col).alias("id"), rec.alias("rec"), blk.alias("blk"),
        key.alias("key"),
    )
    recs = recs.groupBy("rec", "blk", "key").agg(F.min("id").alias("id"))
    w = Window.partitionBy("blk").orderBy("key", "id")
    ranked = recs.withColumn("rn", F.row_number().over(w))
    l, r = ranked.alias("l"), ranked.alias("r")
    dist = F.levenshtein(F.col("l.rec"), F.col("r.rec"))
    return (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("r.rn") - F.col("l.rn") > 0)
            & (F.col("r.rn") - F.col("l.rn") < window)
            & (dist <= max_distance),
        )
        .select(
            # each unordered pair appears exactly once (l.rn < r.rn),
            # so no distinct — id order is normalized, not deduped
            F.least(F.col("l.id"), F.col("r.id")).alias("id_a"),
            F.greatest(F.col("l.id"), F.col("r.id")).alias("id_b"),
            dist.cast("int").alias("distance"),
        )
    )


def lsh_link_pairs(
    df: DataFrame,
    id_col: str,
    record_col: str | Column,
    max_distance: int = 2,
    shingle_k: int = 3,
    num_perm: int = 32,
    bands: int = 16,
    seed: int = 42,
    max_bucket_size: int = 1000,
    hash_fn: Callable[[Column], Column] | None = None,
    portable_bands: bool = False,
    dedup_values: bool = True,
) -> DataFrame:
    """Third-pass candidate generator: MinHash-LSH blocks over the WHOLE
    record string, verified by Levenshtein ≤ ``max_distance``. Returns
    (id_a, id_b, distance), id_a < id_b.

    :func:`blocked_link_pairs` misses a typo in the blocking token and
    :func:`sorted_neighborhood_pairs` one in the sort prefix; LSH bands
    over the record's CHARACTER shingles miss neither. Char grams suit
    short records: a 2-3 word descriptor has ONE word shingle, while a
    one-character typo in an n-char record kills ≤ k char grams
    (J ≈ (n-2k)/n, caught with probability 1-(1-J^rows)^bands: ≥ 0.99
    at J ≥ 0.5 for k=3, 16 bands × 2 rows).

    ``dedup_values`` (default True) collapses identical record VALUES
    to their min-id representative before banding, so only DISTINCT
    values pair: a c-record identical clique would otherwise cost O(c²)
    pairs that carry no information (52.9M vs 0.5M pairs on the
    10×-replica sf1 fixture). Identity linking belongs to the
    exact-dedup pass. ``dedup_values=False`` enumerates record pairs.

    The LSH stages are the shared MinHash-LSH core
    (``operators/dedup.py``); with ``portable_token_hash60`` +
    ``portable_bands=True`` every stage is ANSI-SQL-replayable."""
    from dirty_js_etl_spark.operators.dedup import (
        _band_candidates,
        _cap,
        char_shingles,
        minhash_band_table,
    )

    rec = F.col(record_col) if isinstance(record_col, str) else record_col
    recs = df.select(F.col(id_col).alias("id"), rec.alias("rec"))
    if dedup_values:
        # one value-keyed shuffle (map-side combined min); every later
        # stage then works on distinct values, never on clique members
        recs = recs.groupBy("rec").agg(F.min("id").alias("id"))
    # No spread on recs: pinning the signature map's parallelism with
    # _spread_for_cpu(recs, "id") was measured in a flat-canary window
    # and regressed the bench (x208 1.64 → 1.98 s, x209 4.25 → 4.51 s);
    # the pinned exchange adds a stage to every consumer path and the
    # md5 signature work it parallelizes is not the critical path.
    bt = minhash_band_table(
        recs,
        "id",
        "rec",
        shingle_k=shingle_k,
        num_perm=num_perm,
        bands=bands,
        seed=seed,
        hash_fn=hash_fn,
        portable_bands=portable_bands,
        shingler=char_shingles,
    )
    cands = _band_candidates(_cap(bt, max_bucket_size))
    ra = recs.select(F.col("id").alias("id_a"), F.col("rec").alias("__ra"))
    rb = recs.select(F.col("id").alias("id_b"), F.col("rec").alias("__rb"))
    dist = F.levenshtein(F.col("__ra"), F.col("__rb"))
    return (
        cands.join(ra, "id_a")
        .join(rb, "id_b")
        .filter(dist <= max_distance)
        .select("id_a", "id_b", dist.cast("int").alias("distance"))
    )


def weighted_link_pairs(
    df: DataFrame,
    id_col: str,
    fields: list[str | Column],
    weights: list[float],
    block_col: str | Column,
    max_score: float,
    max_block_size: int = 10_000,
) -> DataFrame:
    """Weighted multi-field record pairs (Fellegi–Sunter-lite): within
    each block, pairs whose score = Σ wᵢ · levenshtein(fieldᵢ_a,
    fieldᵢ_b) is ≤ ``max_score``. Returns (id_a, id_b, score),
    id_a < id_b, score DOUBLE. With a single field at weight 1.0 this
    is exactly :func:`blocked_link_pairs` (property-tested). NULL
    fields compare as empty strings (missing ≈ no evidence, costing
    that field's length).

    Scale shape is :func:`blocked_link_pairs`' (value-level dedup, the
    distinct-value hot-block cap, ONE block-keyed shuffle, the score
    evaluated INSIDE the join condition) plus two LOSSLESS per-field
    prefilters: wᵢ·dᵢ ≤ score ≤ S forces dᵢ ≤ ⌊S/wᵢ⌋, so (a) a
    char-length difference above ⌊S/wᵢ⌋ rejects with two length()
    calls, and (b) the THRESHOLDED JVM levenshtein (banded O(n·cap) DP)
    rejects without the full O(n·m) DP. Both are implied by the score
    bound, so an ANSI-SQL oracle replays the plain inequality; weights
    chosen as binary-exact doubles keep the score sum bit-stable.

    Without the two prefilters x210 took 7.8–8.2 s against 4.7–5.1 s
    at sf0.1; PassJoin chunk-signature candidate generation took 11.7 s
    against 4.4–4.8 s for the block enumeration (SCALE.md), so neither
    is a mode of this function."""
    if len(fields) != len(weights):
        raise ValueError("fields and weights must align")
    if any(w < 0 for w in weights):
        raise ValueError("weights must be non-negative")
    blk = F.col(block_col) if isinstance(block_col, str) else block_col
    cols = [
        (F.col(f) if isinstance(f, str) else f).alias(f"f{i}")
        for i, f in enumerate(fields)
    ]
    recs = df.select(F.col(id_col).alias("id"), *cols, blk.alias("blk"))
    fnames = [f"f{i}" for i in range(len(fields))]
    recs = recs.groupBy(*fnames, "blk").agg(F.min("id").alias("id"))
    sizes = recs.groupBy("blk").agg(F.count(F.lit(1)).alias("__n"))
    recs = (
        recs.join(sizes, "blk").filter(F.col("__n") <= max_block_size).drop("__n")
    )
    # per-record field lengths computed ONCE before the self-join:
    # the length-difference guards fire on every candidate pair, and
    # referencing precomputed ints beats re-evaluating length() twice
    # per field per pair inside the join condition
    recs = recs.select(
        "*",
        *[
            F.length(F.coalesce(F.col(fn), F.lit(""))).alias(f"__len_{fn}")
            for fn in fnames
        ],
    )
    # probe side pinned to the configured parallelism: per-row join work
    # is |block| guarded Levenshteins; AQE's byte-based coalescing folds
    # the saturated value table (a few hundred KB) to ONE task otherwise
    # (x210's enumeration was a single 4.5 s task). Same caveat as
    # blocked_link_pairs: keys (blk, fields…) don't
    # satisfy the join's blk-alone distribution, so the pin relies on
    # the build side broadcasting (true while the value-deduped table is
    # dimension-sized); above the threshold the planner adds its own blk
    # exchange and the pin degrades to one wasted small shuffle. No
    # broadcast hint on purpose — fallback beats a forced-broadcast OOM.
    l = _spread_for_cpu(recs, "blk", *fnames).alias("l")
    r = recs.alias("r")
    cond = (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id"))
    pairs = []
    lens = []
    for w, fn in zip(weights, fnames):
        fl = F.coalesce(F.col(f"l.{fn}"), F.lit(""))
        fr = F.coalesce(F.col(f"r.{fn}"), F.lit(""))
        pairs.append((float(w), fl, fr))
        lens.append((F.col(f"l.__len_{fn}"), F.col(f"r.__len_{fn}")))
    # guard order: all length-diff bounds first (two length() calls),
    # then banded levenshteins smallest-cap-first — the tightest cap is
    # both the cheapest DP band and usually the most selective conjunct
    # (short-circuit AND kills most pairs on it).
    guarded = sorted(
        (
            (int(max_score // w), fl, fr, ll, lr)
            for (w, fl, fr), (ll, lr) in zip(pairs, lens)
            if w > 0
        ),
        key=lambda t: t[0],
    )
    # lossless prefilter pass 1: length-difference lower bound per
    # field, over the precomputed per-record lengths
    for cap, _fl, _fr, ll, lr in guarded:
        cond = cond & (F.abs(ll - lr) <= F.lit(cap))
    # lossless prefilter pass 2: banded thresholded levenshtein per
    # field (returns -1 above the threshold — never runs the full DP)
    for cap, fl, fr, _ll, _lr in guarded:
        cond = cond & (F.levenshtein(fl, fr, cap) >= 0)
    score = None
    for w, fl, fr in pairs:
        term = F.lit(w) * F.levenshtein(fl, fr)
        score = term if score is None else score + term
    return (
        l.join(r, cond & (score <= max_score))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            score.cast("double").alias("score"),
        )
    )


def multi_pass_resolve(
    df: DataFrame,
    id_col: str,
    record_col: str | Column,
    pairs: list[DataFrame],
    reps: DataFrame | None = None,
) -> DataFrame:
    """One entity id per record from the UNION of several candidate
    passes (exact-key blocking + sorted neighborhood + LSH), resolved
    together. Returns (id, entity_id).

    ``pairs`` are (id_a, id_b[, ...]) match pairs from any mix of
    :func:`blocked_link_pairs` / :func:`sorted_neighborhood_pairs` /
    :func:`lsh_link_pairs` over the SAME ``record_col``. Each pass
    value-dedups under its own keying, so both endpoints are first
    canonicalized to the RECORD-value representative (min id per
    distinct record string): identical record values always
    co-resolve, and components run on the value-level union graph.

    NULL record values are PER-RECORD SINGLETONS: missing data is not
    evidence of identity, so a NULL-rec record keeps its own id as its
    representative (it still joins an entity when a pair names its id).

    ``reps`` (optional) is a precomputed ``(rec, rep)`` map — min id per
    DISTINCT NON-NULL record value of the same ``df``/``record_col`` —
    so a pipeline that already materialized one (x209 feeds the same
    table to ``lsh_link_pairs(dedup_values=False)``) shuffles once."""
    from dirty_js_etl_spark.operators.dedup import dup_clusters

    if not pairs:
        raise ValueError("multi_pass_resolve needs at least one pair set")
    rec = F.col(record_col) if isinstance(record_col, str) else record_col
    recs = df.select(F.col(id_col).alias("id"), rec.alias("rec"))
    if reps is None:
        reps = (
            recs.filter(F.col("rec").isNotNull())
            .groupBy("rec")
            .agg(F.min("id").alias("rep"))
        )
    n, p = recs.alias("n"), reps.alias("p")
    id2rep = n.join(
        p, F.col("n.rec") == F.col("p.rec"), "left"
    ).select(
        F.col("n.id").alias("id"),
        F.coalesce(F.col("p.rep"), F.col("n.id")).alias("rep"),
    )

    allp = None
    for pr in pairs:
        pq = pr.select("id_a", "id_b")
        allp = pq if allp is None else allp.unionByName(pq)
    a = id2rep.select(F.col("id").alias("id_a"), F.col("rep").alias("ra"))
    b = id2rep.select(F.col("id").alias("id_b"), F.col("rep").alias("rb"))
    canon = (
        allp.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("ra") != F.col("rb"))
        .select(
            F.least("ra", "rb").alias("id_a"),
            F.greatest("ra", "rb").alias("id_b"),
        )
        .distinct()
    )
    clusters = dup_clusters(canon)
    return id2rep.join(
        clusters.withColumnRenamed("id", "rep"), "rep", "left"
    ).select("id", F.coalesce("cluster_id", "rep").alias("entity_id"))


def resolve_entities(
    df: DataFrame,
    id_col: str,
    record_col: str | Column,
    block_col: str | Column,
    max_distance: int = 2,
    max_block_size: int = 10_000,
) -> DataFrame:
    """One entity id per record: connected components over the blocked
    match pairs (entity_id = min member id), singletons keep their own
    id. Returns (id, entity_id).

    Pairs are VALUE-level (see :func:`blocked_link_pairs`): components run over distinct (record, block)
    value representatives — clique-size-independent — and every record
    then inherits its representative's entity through one value-keyed
    join. For UNCAPPED blocks the resulting partition is identical to
    record-level resolution: an identical-value clique is internally
    connected by its distance-0 in-block pairs either way, and the
    component's min id equals the min over its representatives (each
    representative is already its clique's min). When the hot-block cap
    binds the semantics intentionally differ from the pre-value-level
    behavior: ``max_block_size`` counts DISTINCT VALUES per block (a
    10×-replicated catalog no longer caps out on clique copies), and in
    a capped-out block clique members still share their representative's
    entity (identical values are always co-resolved; only cross-value
    pairing is suppressed).

    NULL-safe: records whose record or block expression is NULL keep a
    row in the output. A NULL RECORD value is a
    PER-RECORD SINGLETON (missing data is not evidence of
    identity, and a NULL-heavy column must not fuse millions of rows
    into one entity), so such records resolve to their own id. A NULL
    BLOCK with a non-null record still collapses identical record
    values (the value itself is the identity evidence; it just never
    pairs across values, since NULL never matches the block join)."""
    from dirty_js_etl_spark.operators.dedup import dup_clusters

    rec = F.col(record_col) if isinstance(record_col, str) else record_col
    blk = F.col(block_col) if isinstance(block_col, str) else block_col
    pairs = blocked_link_pairs(
        df, id_col, record_col, block_col, max_distance, max_block_size
    )
    clusters = dup_clusters(pairs)
    recs = df.select(
        F.col(id_col).alias("id"), rec.alias("rec"), blk.alias("blk")
    )
    reps = (
        recs.filter(F.col("rec").isNotNull())
        .groupBy("rec", "blk")
        .agg(F.min("id").alias("rep"))
    )
    n, p = recs.alias("n"), reps.alias("p")
    return (
        n.join(
            p,
            (F.col("n.rec") == F.col("p.rec"))
            & F.col("n.blk").eqNullSafe(F.col("p.blk")),
            "left",
        )
        .join(
            clusters.withColumnRenamed("id", "rep"), "rep", "left"
        )
        .select(
            F.col("n.id").alias("id"),
            F.coalesce("cluster_id", "rep", F.col("n.id")).alias("entity_id"),
        )
    )
