"""Hierarchy flattening — (node → root ancestor, depth) over an
adjacency/parent table, the warehouse staple behind org charts,
category trees, and BOM explosions (reference analog: none — the
reference's FK combinator, ``mappr.js:339-367``, resolves exactly ONE
hop; SURVEY.md §2.3 lists recursion as absent).

Algorithm: POINTER DOUBLING. Each node starts pointing at its parent
(depth 1; roots at themselves, depth 0); every round each pointer
jumps to its target's pointer, doubling the distance covered
(depth_new = depth + depth_of_target). A depth-D hierarchy converges
in ceil(log2 D) rounds — 20 rounds handle a million-level chain — vs
the D self-joins of naive iteration or an unbounded recursive CTE.

Scale: each round is ONE equi-join of the state table with itself on
the ancestor key (narrow (id, anc, depth) rows) plus an eager
localCheckpoint to pin the round and truncate lineage (GC-released,
not session-pinned). Skew: a popular ancestor key concentrates its
join partition; rounds after the first jump past it quickly since its
own pointer also advances. The convergence probe is a count per round
(driver receives one long).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def flatten_hierarchy(
    edges: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent",
    max_iterations: int = 32,
) -> DataFrame:
    """``(id, root, depth)`` for every node of a forest given a parent
    table (``parent`` NULL ⇔ root). Raises if ``max_iterations``
    doubling rounds don't converge (a cycle, or depth > 2^max_iter)."""
    # LAZY (r14 job-floor audit): the first convergence-probe count is
    # the first consumer of both frames, so one blocking job
    # materializes state and non_roots together instead of two eager
    # builds plus the count (three jobs became one). The same holds
    # per round: the NEXT round's probe count is each new state's
    # first consumer, so every round saves its build job too. All
    # consumers are strictly sequential (count → hop join → next
    # state), so the lazy-checkpoint concurrent-race caveat never
    # applies here.
    state = edges.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(parent_col), F.col(id_col)).alias("anc"),
        F.when(F.col(parent_col).isNull(), 0)
        .otherwise(1)
        .cast("int")
        .alias("depth"),
    ).localCheckpoint(eager=False)
    non_roots = (
        edges.filter(F.col(parent_col).isNotNull())
        .select(F.col(id_col).alias("nr"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        unresolved = state.join(
            non_roots, state["anc"] == non_roots["nr"], "left_semi"
        ).count()
        if unresolved == 0:
            return state.select(
                "id", F.col("anc").alias("root"), "depth"
            )
        hop = state.select(
            F.col("id").alias("jid"),
            F.col("anc").alias("janc"),
            F.col("depth").alias("jdepth"),
        )
        # LEFT join: a dangling parent id (anc not present in the id
        # column at all) has no hop target — keep the node unchanged
        # instead of silently dropping it while other nodes still
        # converge; the convergence probe already treats
        # it as resolved (it is not in non_roots)
        state = (
            state.join(hop, state["anc"] == hop["jid"], "left")
            .select(
                "id",
                F.coalesce(F.col("janc"), F.col("anc")).alias("anc"),
                (F.col("depth") + F.coalesce(F.col("jdepth"), F.lit(0)))
                .cast("int")
                .alias("depth"),
            )
            # lazy: next round's probe count is the first (and only
            # concurrent-safe) consumer — it materializes this round's
            # frame inside the count job (see the header comment)
            .localCheckpoint(eager=False)
        )
    raise RuntimeError(
        f"hierarchy did not flatten in {max_iterations} doubling rounds "
        "(cycle in the parent relation, or depth beyond 2^max_iterations)"
    )
