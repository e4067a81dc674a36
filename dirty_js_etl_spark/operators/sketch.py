"""Mergeable set/frequency sketches built from plain DataFrame
aggregations (north-star extensions — the reference,
`bruslim/dirty-js-etl`, is relational-only per SURVEY.md §2.3; nearest
concept is its generation-time ``StaticHash`` digest, mappr.js:236-246).

Two sketches a 100 TB corpus pipeline leans on when exact joins stop
being affordable:

- **Bloom filter** (Bloom, CACM 1970): compress a membership set (an
  eval-set blocklist, a seen-URL registry) to ``m`` bits, then screen
  the corpus with a *map-only* expression — no join, no shuffle on the
  corpus side at any scale. The build is one narrow aggregation
  (``k`` positions per key → bitwise-OR per 64-bit word) whose output
  is bounded by ``m/64`` longs regardless of member count, so the
  filter itself always broadcasts.
- **Count-min sketch** (Cormode & Muthukrishnan, J.Alg 2005): a
  ``depth × width`` counter grid supporting point frequency estimates
  with one-sided (over-count only) error. The grid is built in one
  hash-aggregation pass and is mergeable across shards/days by cell-wise
  addition — the same rollup shape as the two-level HLL merge (x144).
  Buckets are derived from md5 hex (same trick as
  ``splits.hash_bucket``) so an external engine — or the DuckDB oracle —
  reproduces the sketch *bit-for-bit*, making this the one sketch family
  member with a hash-checked oracle rather than an error-bound test.

Scale design: nothing here ever collects to the driver. The Bloom build
densifies its word table with an in-plan map lookup over a bounded
``collect_list`` (≤ m/64 entries in one row — same bounded-reduce
pattern as the k-means centroid table, similarity.py); membership tests
and bucket assignments are pure projections inside whole-stage codegen.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


def _bloom_pos(
    key: Column, j: Column, m_bits: int, portable: bool = False
) -> Column:
    """Bit position of hash ``j`` for ``key``: pmod(xxhash64(key, j), m),
    or — with ``portable=True`` — the md5-hex spelling every engine can
    reproduce (``conv(substring(md5(j || ':' || key), 1, 8), 16, 10) %
    m``, same trick as :func:`cms_bucket`), trading xxhash64's speed for
    an external-oracle-checkable filter."""
    if portable:
        return cms_bucket(key, j, m_bits)
    return F.pmod(F.xxhash64(key, j), F.lit(m_bits))


def _mask(bit: Column) -> Column:
    """Single-bit long mask for bit index 0–63 (PySpark's shiftleft takes
    only a Python-int shift, so dynamic shifts go through an element_at
    over 64 plan literals — still whole-stage codegen). Bit 63 is the
    sign bit; its mask is the most-negative long."""
    masks = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
            for i in range(64)
        ]
    )
    return F.element_at(masks, bit.cast("int") + 1)


def bloom_build(
    members: DataFrame,
    key: Column,
    m_bits: int = 1 << 17,
    k: int = 5,
    portable: bool = False,
) -> DataFrame:
    """Build an ``m_bits``-bit Bloom filter over ``key`` as a ONE-row
    DataFrame ``{bloom_words: array<long>}`` (``m_bits/64`` words).

    Distributed end-to-end: explode ``k`` hash positions per member,
    bitwise-OR the per-word masks (map-side partial agg makes the
    shuffle ≤ ``m/64`` rows per partition), then densify sparse words
    into the fixed-length array with an in-plan ``sequence`` → map
    lookup. The result is bounded by construction (``m/64`` longs —
    128 KiB at m=2^20), so callers always ``F.broadcast`` it and screen
    with :func:`bloom_contains` as a map-only filter — the whole point
    of the sketch at 100 TB: membership pruning with zero corpus
    shuffle, vs. the broadcast anti-join (x146) whose blocklist side
    grows with member count.
    """
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    n_words = m_bits // 64
    pos = _bloom_pos(F.col("__k"), F.col("__j"), m_bits, portable)
    sparse = (
        members.select(key.alias("__k"))
        .select(
            "__k",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__j"),
        )
        .select(
            F.shiftright(pos, 6).cast("int").alias("w"),
            _mask(pos % 64).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("word"))
    )
    return (
        sparse.agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "word"))
            ).alias("mp")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("mp"), i), F.lit(0).cast("long")
                ),
            ).alias("bloom_words")
        )
    )


def bloom_contains(
    key: Column,
    words: Column,
    m_bits: int = 1 << 17,
    k: int = 5,
    portable: bool = False,
) -> Column:
    """Boolean membership test against :func:`bloom_build`'s word array.

    Pure projection (k hash + ``getbit`` probes ANDed) — no join. False
    positives at the standard ``(1-e^{-kn/m})^k`` rate; never false
    negatives: every inserted key tests true.

    The probe is the HOT expression of a bloom-join (evaluated once per
    fact row × k), so it uses ``getbit(word, pos % 64)`` — a single
    codegen'd shift-and-mask — rather than the build side's
    element_at-over-64-literals mask table (fine there: the build is
    member-sized, the probe is corpus-sized).
    """
    checks = []
    for j in range(k):
        pos = _bloom_pos(key, F.lit(j), m_bits, portable)
        word = F.element_at(words, F.shiftright(pos, 6).cast("int") + 1)
        checks.append(F.getbit(word, pos % 64) == 1)
    return reduce(lambda a, b: a & b, checks)


# ---------------------------------------------------------------------------
# Count-min sketch (engine-portable buckets -> exact-oracle-checkable)
# ---------------------------------------------------------------------------


def cms_bucket(key: Column, row: Column, width: int) -> Column:
    """CMS bucket for hash row ``row``: first 8 hex digits of
    ``md5('<row>:<key>')`` mod ``width`` — the same engine-portable md5
    spelling as ``splits.hash_bucket`` (DuckDB:
    ``CAST('0x' || substring(md5(j || ':' || key), 1, 8) AS BIGINT) %
    width``), so external systems reproduce the grid exactly."""
    hex8 = F.substring(
        F.md5(F.concat_ws(":", row.cast("string"), key.cast("string"))), 1, 8
    )
    return F.conv(hex8, 16, 10).cast("bigint") % width


def cms_sketch(
    counts: DataFrame,
    key_col: str,
    count_col: str,
    depth: int = 4,
    width: int = 1 << 10,
) -> DataFrame:
    """Fold a ``(key, count)`` table into a CMS grid:
    ``(row, bucket, bucket_count)``, at most ``depth × width`` rows.

    One explode (``depth`` rows per key) + one hash aggregation; the
    map-side partial agg collapses each partition to ≤ depth×width rows
    before the shuffle, so the build cost is a single narrow pass no
    matter the corpus size. Grids from different shards/days merge by
    summing cell-wise (same ``(row, bucket)`` key) — the mergeability
    that makes this the streaming/rollup-friendly frequency sketch.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    return (
        counts.select(
            F.col(key_col).alias("__k"), F.col(count_col).alias("__c")
        )
        .select("__k", "__c", rows)
        .select(
            "row",
            cms_bucket(F.col("__k"), F.col("row"), width).alias("bucket"),
            "__c",
        )
        .groupBy("row", "bucket")
        .agg(F.sum("__c").alias("bucket_count"))
    )


def cms_estimate(
    keys: DataFrame,
    sketch: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1 << 10,
) -> DataFrame:
    """Point frequency estimates ``(key, est_count)`` for every row of
    ``keys``: ``min`` over the ``depth`` bucket counters (the CMS upper
    bound — est >= true count always, = with no collisions).

    The sketch is ≤ depth×width rows — broadcast unconditionally; the
    probe side explodes ``depth`` rows per key, joins the broadcast
    grid, and min-reduces per key: one shuffle on the (uniform) key.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    probes = (
        keys.select(F.col(key_col).alias("__k"))
        .select("__k", rows)
        .select(
            "__k",
            "row",
            cms_bucket(F.col("__k"), F.col("row"), width).alias("bucket"),
        )
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("__k")
        # an empty bucket (left-join miss) is a 0 counter, and one empty
        # bucket pins the min — unseen keys estimate 0, not "no row"
        .agg(
            F.min(
                F.coalesce("bucket_count", F.lit(0).cast("long"))
            ).alias("est_count")
        )
        .select(F.col("__k").alias(key_col), "est_count")
    )


def bloom_prune(
    fact: DataFrame,
    fact_key: Column,
    members: DataFrame,
    member_key: Column,
    m_bits: int = 1 << 17,
    k: int = 5,
) -> DataFrame:
    """Semi-join REDUCTION: screen ``fact`` down to rows whose key
    *might* be in ``members`` before an exact join — the classic
    bloom-join (and what Spark's own runtime row-group filtering does
    for DPP-eligible joins, generalized to any build side).

    The filter is built once from the (already-filtered) member keys —
    a bounded ``m/64``-long array regardless of member count — and the
    fact side drops non-candidates with a map-only k-probe test INSIDE
    its scan stage, so rows that cannot join never reach the shuffle.
    False positives (rate ``(1-e^{-kn/m})^k``) survive the screen and
    are eliminated by the exact join that follows; false negatives are
    impossible, so ``bloom_prune + join ≡ join`` — which is exactly what
    the x155 oracle asserts. Worthwhile when the join is selective (most
    fact rows match nothing): shuffle volume shrinks by the selectivity
    factor at the cost of one broadcast of ``m/64`` longs.
    """
    bloom = bloom_build(members.select(member_key.alias("__mk")),
                        F.col("__mk"), m_bits=m_bits, k=k)
    return (
        fact.crossJoin(F.broadcast(bloom))
        .filter(bloom_contains(fact_key, F.col("bloom_words"), m_bits, k))
        .drop("bloom_words")
    )


# ---------------------------------------------------------------------------
# Engine-portable HyperLogLog (md5-derived registers -> exact-oracle-checkable)
# ---------------------------------------------------------------------------


def hll_portable(
    df: DataFrame,
    key: Column,
    p: int = 4,
    out_prefix: str = "",
) -> DataFrame:
    """From-scratch HyperLogLog (Flajolet et al. 2007) over ``key`` as a
    DENSE register table ``(register, rho, est_distinct)`` — ``2^p``
    rows — built entirely from portable primitives so an external SQL
    engine reproduces it bit-for-bit (the same portability trick as
    :func:`cms_bucket`; Spark's native ``hll_sketch_agg`` remains the
    production path, x154).

    Construction: a 32-bit draw from the first 8 md5 hex digits of the
    key; top ``p`` bits pick the register, ``rho`` = leading-zero count
    of the remaining ``32-p`` bits + 1 spelled as ``(32-p) + 1 -
    length(bin(rest))`` (``bin`` drops leading zeros in Spark AND
    DuckDB — an integer string op, no transcendental ``log2``); the
    estimate is ``alpha_m * m^2 / Z`` with ``Z`` carried as the INTEGER
    ``Z * 2^32 = sum(1 << (32 - rho))`` (exact in BIGINT for p >= 2),
    so the only float op is ONE correctly-rounded division of exactly-
    representable values — identical doubles on every engine. The raw
    estimate is reported without the small-range linear-counting branch
    (a piecewise rule would be just as portable; omitted to keep the
    demo single-formula — the error-bound test covers accuracy).

    Scale: NO distinct pre-pass — duplicates collapse inside ``max``
    per register, so the build is one narrow groupBy over ``2^p``
    registers with map-side partials (≤ m rows per partition shipped),
    the same single-pass shape as the native sketch; register tables
    from shards/days merge by register-wise ``max`` (pytest-pinned).
    """
    m = 1 << p
    rest_bits = 32 - p
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1 + 1.079 / m))
    hv = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    reg = F.shiftright(hv, rest_bits)
    rest = F.pmod(hv, F.lit(1 << rest_bits))
    rho = F.when(rest == 0, F.lit(rest_bits + 1)).otherwise(
        F.lit(rest_bits + 1) - F.length(F.bin(rest))
    )
    sparse = (
        df.select(reg.alias("register"), rho.alias("__rho"))
        .groupBy("register")
        .agg(F.max("__rho").alias("rho"))
    )
    spark = df.sparkSession
    # eager GC-scoped localCheckpoint on the m-row register table: both
    # the Z aggregate and the output derive from it, and without the
    # pin Spark would re-run the full corpus scan for each (the same
    # bounded-reduce idiom as dedup.py's signature tables)
    dense = (
        spark.range(m)
        .select(F.col("id").alias("register"))
        .join(sparse, "register", "left")
        .select(
            F.col("register").cast("int").alias("register"),
            F.coalesce(F.col("rho"), F.lit(0)).cast("int").alias("rho"),
        )
        .localCheckpoint(eager=True)
    )
    zint = dense.agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - rho AS INT))"))
        .alias("__zint")
    )
    est = (
        F.lit(float(alpha)) * m * m * F.lit(2.0**32) / F.col("__zint")
    ).alias(f"{out_prefix}est_distinct")
    return dense.crossJoin(F.broadcast(zint)).select(
        "register", "rho", est
    )


# ---------------------------------------------------------------------------
# Portable bottom-k samples: the deterministic twins of the native KLL
# quantile and theta set-op sketches (every other approximate family already
# has a bit-exact SQL-replayable twin: x6b MinHash, x192 HLL, x149 CMS, x200
# k-means, x201 IVF, x202 streaming).
# ---------------------------------------------------------------------------


def bottomk_rows(
    df: DataFrame,
    keys: list[str],
    draw: Column,
    k: int,
    payload: list[str | Column],
) -> DataFrame:
    """The ``k`` rows with the smallest ``draw`` per key group — a
    deterministic, MERGEABLE uniform row sample (bottom-k sampling):
    because "k smallest of a union = k smallest of the per-part k
    smallest", daily samples merge into weekly ones without touching
    raw data again, the exact mergeability contract of a KLL sketch.

    ``draw`` must be a hash that is UNIQUE per row (e.g.
    ``portable_token_hash60`` of a unique row key) — uniqueness makes
    the row_number total order, and therefore the sample, reproducible
    by ANY engine (the md5 idiom; collisions would make rank ties
    engine-ordered). ``payload`` entries are column names or
    pre-aliased Column expressions. Returns (keys…, ``__draw``,
    payload…).

    Scale: one keys-keyed shuffle; each group buffers only its k
    smallest draws after the window's rank filter (per-partition
    pre-truncation to k rows per group comes free from AQE/codegen's
    TopK when the window is rank-limited — Spark rewrites
    row_number<=k over a window into a per-partition bounded sort)."""
    from pyspark.sql import Window

    cols = [F.col(c) if isinstance(c, str) else c for c in payload]
    w = Window.partitionBy(*keys).orderBy("__draw")
    return (
        df.select(*keys, draw.alias("__draw"), *cols)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def sample_quantiles(
    sample: DataFrame,
    keys: list[str],
    value_col: str,
    draw_col: str,
    quantiles: dict[str, tuple[int, int]],
) -> DataFrame:
    """Empirical quantiles of a bottom-k sample, engine-portable: for
    each (name, (q_num, q_den)) the estimate is the sample value at
    ordinal ``ceil(q·ns)`` in (value, draw) order — the "lower"
    empirical quantile, with the ordinal computed in INTEGER arithmetic
    (``(q_num·ns + q_den − 1) div q_den``) so no float ever decides a
    rank, and the draw as tiebreak so equal values rank identically on
    every engine. Returns (keys…, ns, <name>…)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(value_col, draw_col)
    ranked = sample.withColumn("__vrn", F.row_number().over(w)).withColumn(
        "__ns", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )
    aggs = [F.max("__ns").cast("long").alias("ns")]
    for name, (qn, qd) in quantiles.items():
        ordinal = F.expr(f"({qn} * __ns + {qd - 1}) DIV {qd}")
        aggs.append(
            F.max(
                F.when(F.col("__vrn") == F.greatest(ordinal, F.lit(1)),
                       F.col(value_col))
            ).alias(name)
        )
    return ranked.groupBy(*keys).agg(*aggs)


def kmv_table(
    df: DataFrame,
    keys: list[str],
    member: Column,
    k: int,
) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002) as a
    plain table: per key group, the ``k`` smallest DISTINCT 60-bit md5
    hashes of ``member`` — the portable twin of a theta sketch (theta
    IS KMV with θ = the k-th smallest normalized hash). Mergeable (k
    smallest of a union = k smallest of the per-part samples' union)
    and set-operable: intersections/Jaccard run on the hash samples.
    Returns (keys…, h, rn) with rn = 1-based rank of h in the group.

    Scale: the distinct pre-pass and the rank window share one
    keys+hash shuffle shape; state per group is k longs regardless of
    corpus size — the same bounded-state contract as the native
    ``theta_sketch_agg``."""
    from pyspark.sql import Window

    from dirty_js_etl_spark.operators.dedup import portable_token_hash60

    h = portable_token_hash60(member.cast("string"))
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        df.select(*keys, h.alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


_KMV_SPACE = float(1 << 60)  # the md5-60bit draw space


def kmv_estimate(sketch: DataFrame, keys: list[str], k: int) -> DataFrame:
    """Distinct-count estimate from a :func:`kmv_table` sample: when
    the group saturates (ns = k) the unbiased KMV estimator
    ``(k − 1) · 2^60 / h_k`` (h_k = the k-th smallest hash); when it
    doesn't, the sample IS the distinct set and the count is EXACT.
    The estimate is returned RAW — one IEEE-correctly-rounded double
    division of values both engines materialize identically (the
    numerator (k−1)·2^60 is exactly representable; the int64 h_k casts
    to double by the same round-to-nearest rule everywhere) — the same
    cross-engine discipline as ``hashed_linear_score``. No decimal
    re-rounding: Spark's ``F.round`` (HALF_UP on the decimal string)
    and DuckDB's ``round`` (binary half-away-from-zero) disagree near
    3-decimal midpoints, exactly the divergence re-rounding would
    reintroduce. Returns (keys…, ns, est_distinct)."""
    g = sketch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("ns"), F.max("h").alias("__hk")
    )
    est = F.when(
        F.col("ns") < k, F.col("ns").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_SPACE)
        / F.col("__hk").cast("double")
    )
    return g.select(*keys, F.col("ns").cast("long").alias("ns"),
                    est.alias("est_distinct"))
