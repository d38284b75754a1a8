"""Maximal independent set — Luby-style parallel greedy selection (Luby
1986, "A simple parallel algorithm for the maximal independent set
problem" — public knowledge), the classic building block for parallel
graph coloring / scheduling / landmark selection.

Deterministic variant: every vertex draws a fixed priority
xxhash64(vid, seed) once; a round selects every undecided vertex whose
(priority, vid) is strictly smaller than all its undecided neighbors'
(the vid tiebreak makes collisions harmless), then removes the selected
vertices AND their neighbors from the undecided set. With hash-random
priorities this is exactly the greedy MIS of the hash order and finishes
in O(log n) rounds w.h.p. (Fischer & Noever SODA'18 tightened Luby's
analysis for the fixed-permutation variant); being hash-derived rather
than sampled, the result is bit-identical on any cluster size or retry —
the same determinism contract as walks.py.

Per-round plan: one join of the undecided edge view against the priority
state (partition-aligned on the vertex key), one min-aggregate, one
anti/semi pair to shrink the frontier — all codegen'd; the undecided set
only shrinks, and each round's state is localCheckpoint'ed with the
previous round released (the kcore/lpa loop discipline).

Oracle (tests/test_mis.py): independence + maximality verified against
networkx adjacency on every graph, and the member set equals a pure-python
greedy sweep over the SAME priorities (fetched from the engine) exactly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf


@dataclass
class MISResult:
    members: DataFrame  # (vid,)
    iterations: int
    converged: bool  # False => members is a valid independent set but
    #                  maximality is NOT guaranteed (cap exhausted)


def vertex_priorities(edges_or_vertices: DataFrame, seed: int = 17) -> DataFrame:
    """(vid, pri) — the fixed hash priorities the selection sweeps; exposed
    so tests (or a resumed run) can reproduce the exact greedy order."""
    return edges_or_vertices.select("vid").distinct().select(
        "vid", F.xxhash64("vid", F.lit(seed)).alias("pri")
    )


def maximal_independent_set(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    seed: int = 17,
    max_iter: int = 100,
) -> MISResult:
    """MIS of the undirected simple view of ``edges``; isolated vertices
    (reachable only via ``vertices``) are always members."""
    with iterative_conf(spark):
        return _mis_loop(spark, edges, vertices, seed, max_iter)


def _mis_loop(spark, edges, vertices, seed, max_iter):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nbrs = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition(P, "u")
        .localCheckpoint(eager=True)
    )
    und = (
        nbrs.select(F.col("u").alias("vid"))
        .distinct()
        .select("vid", F.xxhash64("vid", F.lit(seed)).alias("pri"))
        .localCheckpoint(eager=True)
    )
    chosen = None
    sel_parts = []  # checkpointed per-round selections, released at the end
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        if und.isEmpty():
            converged = True
            break
        # min undecided-neighbor key per undecided vertex; vertices whose
        # neighbors are all decided get null -> selected unconditionally
        nbr_min = (
            nbrs.join(
                und.select(F.col("vid").alias("v"), F.col("pri").alias("vpri")), "v"
            )
            .groupBy("u")
            .agg(F.min(F.struct(F.col("vpri").alias("pri"), F.col("v").alias("vid"))).alias("mn"))
        )
        sel = (
            und.join(nbr_min.withColumnRenamed("u", "vid"), "vid", "left")
            .filter(
                F.col("mn").isNull()
                | (F.struct(F.col("pri"), F.col("vid")) < F.col("mn"))
            )
            .select("vid")
            .localCheckpoint(eager=True)
        )
        # remove selected + their neighborhood from the undecided set
        dropped = sel.unionByName(
            nbrs.join(sel.withColumnRenamed("vid", "u"), "u", "semi")
            .select(F.col("v").alias("vid"))
        ).distinct()
        new_und = und.join(dropped, "vid", "anti").localCheckpoint(eager=True)
        sel_parts.append(sel)
        chosen = sel if chosen is None else chosen.unionByName(sel)
        old, und = und, new_und
        old.unpersist()

    members = chosen if chosen is not None else und.select("vid").limit(0)
    members = members.localCheckpoint(eager=True)
    for s in sel_parts:
        s.unpersist()
    if vertices is not None:
        # vertices with no edge at all are independent by definition
        isolated = vertices.select("vid").join(
            nbrs.select(F.col("u").alias("vid")).distinct(), "vid", "anti"
        )
        members = members.unionByName(isolated)
    nbrs.unpersist()
    und.unpersist()
    return MISResult(members, it, converged)


def greedy_coloring(
    spark: SparkSession,
    edges: DataFrame,
    seed: int = 17,
    max_colors: int = 64,
    max_iter_per_color: int = 100,
) -> DataFrame:
    """(vid, color) — proper vertex coloring by iterated MIS (the
    classical Jones–Plassmann / Luby reduction: color c = an MIS of the
    still-uncolored subgraph). Colors are small ints from 0; the count is
    bounded by max-degree+1 but typically far lower on sparse graphs.

    Each color round runs the same hash-priority selection over the
    residual subgraph (edges among uncolored vertices, maintained by two
    semi-joins — the residual only shrinks). Deterministic given the
    seed. Raises if ``max_colors`` rounds leave vertices uncolored (a
    partial coloring is not a coloring — fail-loudly policy), which on
    any real graph means max_colors was set below max-degree+1.
    """
    out = None
    parts = []
    residual = edges
    # the uncolored vertex set is tracked EXPLICITLY: a vertex whose every
    # neighbor is already colored disappears from the residual edge view,
    # but it still needs a color — MIS's vertices= contract picks such
    # isolated vertices up unconditionally.
    uncolored = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for c in range(max_colors):
        res = maximal_independent_set(
            spark, residual, vertices=uncolored, seed=seed + c,
            max_iter=max_iter_per_color,
        )
        if not res.converged:
            raise RuntimeError(
                f"MIS for color {c} hit max_iter={max_iter_per_color}"
            )
        sel = res.members.select("vid", F.lit(c).alias("color"))
        parts.append(res.members)
        out = sel if out is None else out.unionByName(sel)
        keep = residual.join(
            res.members.withColumnRenamed("vid", "src"), "src", "anti"
        ).join(res.members.withColumnRenamed("vid", "dst"), "dst", "anti")
        residual = keep.select("src", "dst").localCheckpoint(eager=True)
        parts.append(residual)
        new_uncolored = uncolored.join(
            res.members, "vid", "anti"
        ).localCheckpoint(eager=True)
        old, uncolored = uncolored, new_uncolored
        old.unpersist()
        if uncolored.isEmpty():
            out = out.localCheckpoint(eager=True)
            uncolored.unpersist()
            for p in parts:
                p.unpersist()
            return out
    raise RuntimeError(
        f"graph not colored within max_colors={max_colors} rounds"
    )
