"""Privacy-release gates for training-data pipelines: k-anonymity with
one generalization step, plus l-diversity accounting.

Complements the regex PII layer (``operators/corpus.py::pii_report``,
query x51): PII redaction scrubs free text; these gates decide whether
STRUCTURED quasi-identifier combinations are safe to release at all.
k-anonymity: every released equivalence class (unique combination of
quasi-identifier values) must contain at least ``k`` records; classes
below ``k`` are generalized one level up a hierarchy (e.g. nation →
region, balance band → dropped) and re-checked; classes still below
``k`` are marked suppressed.

Scale: two groupBys — the coarse one runs on the already-aggregated
fine CLASSES, never on the raw rows — plus one broadcast join against
the dim-sized hierarchy mapping. The raw table is scanned once;
everything downstream is class-cardinality-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def k_anonymity_report(
    df: DataFrame,
    geo_col: str,
    seg_col: str,
    band: Column,
    hierarchy: DataFrame,
    child_col: str,
    parent_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-equivalence-class release report.

    Fine-level classes are (``geo_col``, ``seg_col``, ``band``); a
    class of size >= ``k`` releases at level 'fine'. Smaller classes
    generalize: the geo key maps child → parent through ``hierarchy``
    (broadcast) and the band is dropped, then the merged (parent,
    segment) class releases at 'coarse' if it reaches ``k``, else
    reports as 'suppressed'.

    Returns one row per class: (level, geo, segment, bal_band, n) with
    ``bal_band`` NULL at the coarse level and ``geo`` holding the
    parent key there.
    """
    fine = df.groupBy(
        F.col(geo_col), F.col(seg_col), band.alias("bal_band")
    ).agg(F.count(F.lit(1)).alias("n"))
    rel_fine = fine.filter(F.col("n") >= k).select(
        F.lit("fine").alias("level"),
        F.col(geo_col).alias("geo"),
        F.col(seg_col).alias("segment"),
        "bal_band",
        "n",
    )
    # LEFT join: a geo key missing from the hierarchy must still be
    # accounted for (record conservation) — it stays under its own key
    # and reports as 'suppressed' rather than silently dropping out of
    # the release report. The grouping carries a mapped flag so an
    # unmapped child key that happens to EQUAL a parent key still forms
    # its own group (key spaces may overlap) and can never ride a real
    # parent class to a 'coarse' release.
    coarse = (
        fine.filter(F.col("n") < k)
        .join(F.broadcast(hierarchy), F.col(geo_col) == F.col(child_col), "left")
        .groupBy(
            F.col(parent_col).isNotNull().alias("__mapped"),
            F.coalesce(F.col(parent_col), F.col(geo_col)).alias("geo"),
            F.col(seg_col),
        )
        .agg(F.sum("n").alias("n"))
        .select(
            F.when(F.col("__mapped") & (F.col("n") >= k), "coarse")
            .otherwise("suppressed")
            .alias("level"),
            "geo",
            F.col(seg_col).alias("segment"),
            F.lit(None).cast("int").alias("bal_band"),
            "n",
        )
    )
    return rel_fine.unionByName(coarse)


def l_diversity(
    df: DataFrame, keys: list[str], sensitive: str, l_floor: int = 2
) -> DataFrame:
    """Distinct-sensitive-value count per equivalence class (the
    l-diversity check): a k-anonymous class whose sensitive attribute
    is constant still leaks it. Returns (keys..., n, l_div, diverse)."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(sensitive).alias("l_div"),
        (F.countDistinct(sensitive) >= l_floor).alias("diverse"),
    )


def t_closeness(
    df: DataFrame,
    keys: list[str],
    sensitive: str,
    t_num: int = 1,
    t_den: int = 5,
) -> DataFrame:
    """t-closeness report (Li et al. 2007) for an ORDERED sensitive
    attribute: per equivalence class, the Earth Mover's Distance
    between the class's sensitive-value distribution and the GLOBAL
    distribution, with the release gate ``emd <= t`` (t = t_num/t_den).
    The third gate of the canonical trio — k-anonymity bounds class
    size, l-diversity bounds value variety, t-closeness bounds how much
    a class's distribution DIFFERS from global (a diverse class skewed
    to high values still discloses).

    Exact in ANY engine: for ordered values, EMD =
    Σᵢ |Σ_{j≤i} (p_j − q_j)| / (m − 1) with p_j = c_j/n, q_j = g_j/N —
    rewritten over integers as cum_i = Σ_{j≤i} (c_j·N − g_j·n), so
    emd_num = Σ|cum_i| and emd_den = n·N·(m−1) are exact BIGINTs, the
    gate is the integer comparison t_den·emd_num ≤ t_num·emd_den, and
    the reported ``emd`` double is ONE correctly-rounded IEEE division
    (the quantized-replay discipline: no float accumulation anywhere).
    Rows with a NULL sensitive value are excluded from both
    distributions. A single-valued global domain (m = 1) has emd 0 by
    definition.

    Scale: two raw-table groupBys (classes×values and class sizes, both
    map-side combined), the global value histogram and the (N, m)
    scalar broadcast onto the class-cardinality grid, one class-keyed
    window for the cumulative sums — nothing downstream of the raw
    scans exceeds classes × values rows. Returns
    (keys…, n, emd_num, emd_den, tclose, emd)."""
    from pyspark.sql import Window

    base = df.filter(F.col(sensitive).isNotNull()).select(
        *keys, F.col(sensitive).alias("__s")
    )
    g = base.groupBy("__s").agg(F.count(F.lit(1)).alias("__g"))
    tot = base.agg(
        F.count(F.lit(1)).alias("__N"),
        F.countDistinct("__s").alias("__m"),
    )
    cls = base.groupBy(*keys, "__s").agg(F.count(F.lit(1)).alias("__c"))
    sizes = base.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    # NULL-safe grid join via a STRUCT key: a class whose quasi-identifier key
    # is NULL appears in sizes AND in cls, but a plain per-column equi-join
    # would never match the two, zero-filling __c and reporting a spuriously
    # maximal EMD. Spark struct equality compares fields with
    # NULL == NULL true AND stays a hash-partitionable join KEY —
    # unlike the r11 per-column eqNullSafe conjunction, which the r12
    # A/B measured at 1.4x this spelling's cost (SCALE.md). __s is
    # non-null by construction (filtered above), so plain equality is
    # correct for it.
    grid_l = (
        sizes.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(tot))
        .withColumn("__k", F.struct(*keys))
    )
    cls_r = cls.select(
        F.struct(*keys).alias("__rk"),
        F.col("__s").alias("__rs"),
        "__c",
    )
    grid = (
        grid_l.join(
            cls_r,
            (F.col("__k") == F.col("__rk"))
            & (F.col("__s") == F.col("__rs")),
            "left",
        )
        .drop("__k", "__rk", "__rs")
        .fillna(0, ["__c"])
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    diff = F.col("__c") * F.col("__N") - F.col("__g") * F.col("n")
    per = (
        grid.withColumn("__cum", F.sum(diff).over(w))
        .groupBy(*keys, "n", "__N", "__m")
        .agg(F.sum(F.abs(F.col("__cum"))).alias("emd_num"))
    )
    den = F.col("n") * F.col("__N") * (F.col("__m") - F.lit(1))
    return per.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.col("emd_num").cast("long").alias("emd_num"),
        den.cast("long").alias("emd_den"),
        F.when(
            F.col("__m") > 1,
            F.lit(t_den) * F.col("emd_num") <= F.lit(t_num) * den,
        )
        .otherwise(F.lit(True))
        .alias("tclose"),
        F.when(
            F.col("__m") > 1,
            F.col("emd_num").cast("double") / den.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("emd"),
    )
