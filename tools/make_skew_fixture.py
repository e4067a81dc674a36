"""Adversarially SKEWED variants of the driver fixtures: the uniform
10×-replica scale audit (`tools/runner.py scale`) catches super-linear growth,
but nothing exercised a genuinely hot key — one merge/join key, linkage block,
or band bucket holding ~10% of the corpus. These transforms plant exactly that,
deterministically, so the hot-key guards can be asserted rather than assumed:

- ``skew_part``: ~10% of ``part`` rows get the SAME linkage blocking
  key (the p_name noun every block key derives from is rewritten to a
  constant), making one block hold ~10% of all distinct record values —
  the hot-block regime ``max_block_size`` exists for;
- ``skew_orders``: ~10% of ``orders`` rows point at ONE customer
  (o_custkey = hot key), making the customer join's hot hash partition
  ~an order of magnitude above the median — the regime AQE's skew-join
  split (and, for the non-broadcastable case, ``skew.salted_join``)
  exists for.

Usage (writes parquet variants next to nothing — OUT must be writable):

    python tools/make_skew_fixture.py [SRC=/root/testdata/sf0.1] \
        [OUT=/tmp/skewdata]

Tests import the transforms directly (tests/test_skew.py) so the
fixture shape is pinned in CI without materializing files; the CLI form
exists for ad-hoc benching at other scales.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HOT_NOUN = "hotnoun"  # the planted blocking noun (word 2 of p_name)
HOT_CUSTKEY = 1  # the planted hot FK target
SKEW_MOD = 10  # 1-in-10 rows land on the hot key (~10%)


def skew_part(part: DataFrame) -> DataFrame:
    """~10% of parts share one blocking noun: word 2 of ``p_name`` is
    rewritten to ``HOT_NOUN`` for ``p_partkey % SKEW_MOD == 0`` rows.
    Records stay distinct (the other four words still vary), so the hot
    block's DISTINCT-VALUE count — what the linkage caps bind on — is
    ~10% of the table."""
    words = F.split(F.col("p_name"), " ")
    hot_name = F.concat_ws(
        " ",
        F.element_at(words, 1),
        F.lit(HOT_NOUN),
        F.slice(words, 3, 100),
    )
    return part.withColumn(
        "p_name",
        F.when(F.col("p_partkey") % SKEW_MOD == 0, hot_name).otherwise(
            F.col("p_name")
        ),
    )


def skew_records(spark, n_rows: int = 50_000) -> DataFrame:
    """A synthetic linkage catalog with a DISTINCT-VALUE whale block:
    every record string is unique (``item-<zero-padded id>``), ~10% of
    them share one blocking key, the rest spread over 500 blocks. The
    fixture `part` table cannot host this shape — its (p_name, p_type)
    value domain saturates at 384 distinct values, so after value-level
    dedup no block can exceed ~48 values no matter how rows are skewed;
    the linkage caps bind on DISTINCT VALUES (r9), which is exactly
    what this table makes hot. Returns (rid, rec, blk)."""
    return spark.range(n_rows).select(
        F.col("id").alias("rid"),
        F.concat(
            F.lit("item-"), F.lpad(F.col("id").cast("string"), 7, "0")
        ).alias("rec"),
        F.when(F.col("id") % SKEW_MOD == 0, F.lit("hotblock"))
        .otherwise(
            F.concat(F.lit("b"), (F.col("id") % 500).cast("string"))
        )
        .alias("blk"),
    )


def skew_docs(spark, n_rows: int = 20_000) -> DataFrame:
    """A document corpus with a DEGENERATE LSH band bucket: ~10% of docs
    share one normalized text (the web-boilerplate shape — identical
    ToS/footer pages are the real-world cause), so their minhash signatures
    — hence their (band, bucket) rows in EVERY band — are identical and one
    bucket holds ~10% of the corpus. The uncapped candidate self-join pays
    that bucket's quadratic term; ``max_bucket_size`` must drop exactly that
    bucket and nothing else.
    The other 90% of docs are unique 6-word texts whose every shingle
    embeds the doc id, so they collide with nothing — EXCEPT a planted
    TWIN per 100-block (`id % 100 == 57` carries id−1's text, and 56 is
    never a whale id), giving the capped run legitimate small buckets
    (size 2) that must keep pairing: the cap has to be surgical, not
    global. Returns (doc_id, text)."""

    def uniq(idc):
        s = idc.cast("string")
        return F.concat_ws(
            " ",
            F.concat(F.lit("ua"), s), F.concat(F.lit("vb"), s),
            F.concat(F.lit("wc"), s), F.concat(F.lit("xd"), s),
            F.concat(F.lit("ye"), s), F.concat(F.lit("zf"), s),
        )

    boiler = F.lit(
        "terms of service apply to every page on this site please read"
    )
    return spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % SKEW_MOD == 0, boiler)
        .when(F.col("id") % 100 == 57, uniq(F.col("id") - 1))
        .otherwise(uniq(F.col("id")))
        .alias("text"),
    )


def skew_link_records(spark, n_rows: int = 600) -> DataFrame:
    """A linkage catalog with a DEGENERATE CHAR-GRAM BAND BUCKET of
    DISTINCT record values — the one hot-key shape
    ``lsh_link_pairs``'s value-dedup cannot collapse: ~10% of records
    share a 61-char boilerplate and differ only in ONE trailing char
    (a distinct normalization-stable codepoint per whale, so values are
    unique and pairwise levenshtein = 1). A whale record's 60
    char-3-grams are 59/60 shared with the boilerplate, so per band
    (2 rows of 32 perms) the probability BOTH minima come from shared
    grams is (59/60)² ≈ 0.97 — one bucket per band holds ~97% of the
    whale, quadratic under the candidate self-join unless
    ``max_bucket_size`` binds. A whale that misses that bucket carries
    its OWN final gram's hash in the signature, which NO other record
    shares (the final gram is the only one containing its unique char)
    — deterministic singleton buckets, so the whale's pair mass lives
    ONLY in the hot bucket and the cap's output delta is surgical. The
    other 90% of records are unique id-embedding strings that collide
    with nothing — except a planted TWIN per 100-block
    (``id % 100 == 57`` carries id−1's record with one substituted
    char, distance 1): legitimate size-2 buckets the cap must keep
    pairing. ``n_rows`` is capped by the suffix alphabet (63
    lowercase-stable chars — shingling lowercases, so 'A' and 'a' would
    collide; the surgical guarantee needs every whale suffix distinct
    post-normalization). Returns (rid, rec)."""
    suffixes = "0123456789abcdefghijklmnopqrstuvwxyz!#$%&()*+,-./:;<=>?@[]^_{}~"
    if n_rows > len(suffixes) * SKEW_MOD:
        raise ValueError(
            f"skew_link_records is deterministic only up to "
            f"{len(suffixes) * SKEW_MOD} rows "
            f"({len(suffixes)} one-char whale suffixes)"
        )
    boiler = "terms of service apply to every page please read them all now"
    whale = F.concat(
        F.lit(boiler),
        # one unique trailing normalization-stable char per whale record
        F.element_at(
            F.array(*[F.lit(c) for c in suffixes]),
            (F.col("id") / SKEW_MOD).cast("int") + 1,
        ),
    )

    def uniq(idc):
        s = idc.cast("string")
        return F.concat_ws(
            " ",
            F.concat(F.lit("qa"), s), F.concat(F.lit("rb"), s),
            F.concat(F.lit("sc"), s), F.concat(F.lit("td"), s),
            F.concat(F.lit("ue"), s), F.concat(F.lit("vf"), s),
        )

    twin = F.concat(  # id−1's record with its FIRST char substituted
        F.lit("Z"), F.substring(uniq(F.col("id") - 1), 2, 1_000_000)
    )
    return spark.range(n_rows).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % SKEW_MOD == 0, whale)
        .when(F.col("id") % 100 == 57, twin)
        .otherwise(uniq(F.col("id")))
        .alias("rec"),
    )


def skew_orders(orders: DataFrame) -> DataFrame:
    """~10% of orders point at customer ``HOT_CUSTKEY``: the hot hash
    partition of any o_custkey-keyed shuffle holds ~10% of the fact
    table while the median partition holds ~1/shuffle.partitions."""
    return orders.withColumn(
        "o_custkey",
        F.when(
            F.col("o_orderkey") % SKEW_MOD == 0, F.lit(HOT_CUSTKEY)
        ).otherwise(F.col("o_custkey")),
    )


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from dirty_js_etl_spark.session import get_spark

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/skewdata"
    spark = get_spark("make-skew-fixture")
    skew_part(spark.read.parquet(f"{src}/part.parquet")).write.mode(
        "overwrite"
    ).parquet(f"{out}/part.parquet")
    skew_orders(spark.read.parquet(f"{src}/orders.parquet")).write.mode(
        "overwrite"
    ).parquet(f"{out}/orders.parquet")
    print(f"wrote skewed part/orders variants of {src} to {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
