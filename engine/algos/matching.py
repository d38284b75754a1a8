"""Maximal matching — parallel greedy over hash edge priorities.

The edge-side sibling of ``mis.py``: a matching (no two edges share a
vertex) that is maximal (every unmatched edge touches a matched
vertex). Classic uses: graph coarsening levels (multilevel partitioners
coarsen by contracting a maximal matching), conflict-free pair
scheduling. Public algorithm family: Luby-style local-minimum selection
(Israeli–Itai 1986 parallel matching; Blelloch–Fineman–Shun SPAA'12
showed the fixed-random-order greedy finishes in O(log^2 n) parallel
rounds w.h.p.).

Deterministic variant, same contract as mis.py/walks.py: every
undirected edge draws a fixed priority ``xxhash64(lo, hi, seed)`` once;
a round selects every edge whose (pri, lo, hi) is the strict minimum at
BOTH endpoints among still-undecided edges, then drops all edges
touching a matched vertex. The result is exactly the sequential greedy
matching of the hash order — bit-identical on any partitioning, retry,
or cluster size.

Per-round plan: one explode to the (vertex, edge-key) incidence view,
one min-aggregate per vertex (partial-agg: min combines map-side), two
joins to test the edge's key at both endpoints, two anti-joins to
shrink the undecided set. The undecided edge set only shrinks; each
round's state goes through localCheckpoint with the previous round
released — the kcore/mis loop discipline.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf


@dataclass
class MatchingResult:
    edges: DataFrame  # (lo, hi) matched pairs, lo < hi
    iterations: int
    converged: bool  # False => valid matching, maximality NOT guaranteed


def edge_priorities(edges: DataFrame, seed: int = 23) -> DataFrame:
    """(lo, hi, pri) — canonical undirected simple edge view with the
    fixed hash priorities the selection sweeps; exposed so tests can
    replay the exact greedy order."""
    lo = F.least("src", "dst")
    hi = F.greatest("src", "dst")
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(lo.alias("lo"), hi.alias("hi"))
        .distinct()
        .select("lo", "hi", F.xxhash64("lo", "hi", F.lit(seed)).alias("pri"))
    )


def maximal_matching(
    spark: SparkSession,
    edges: DataFrame,
    seed: int = 23,
    max_iter: int = 100,
) -> MatchingResult:
    """Maximal matching of the undirected simple view of ``edges``
    (self-loops ignored — a loop can never be matched)."""
    with iterative_conf(spark):
        return _matching_loop(spark, edges, seed, max_iter)


def _matching_loop(spark, edges, seed, max_iter):
    und = edge_priorities(edges, seed).localCheckpoint(eager=True)
    key = F.struct("pri", "lo", "hi")
    matched = None
    parts = []
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        if und.isEmpty():
            converged = True
            break
        inc = und.select(
            F.explode(F.array("lo", "hi")).alias("vtx"), key.alias("k")
        )
        vmin = inc.groupBy("vtx").agg(F.min("k").alias("mn"))
        sel = (
            und.join(
                vmin.select(F.col("vtx").alias("lo"), F.col("mn").alias("mlo")),
                "lo",
            )
            .join(
                vmin.select(F.col("vtx").alias("hi"), F.col("mn").alias("mhi")),
                "hi",
            )
            .filter((key == F.col("mlo")) & (key == F.col("mhi")))
            .select("lo", "hi")
            .localCheckpoint(eager=True)
        )
        mv = (
            sel.select(F.col("lo").alias("vtx"))
            .unionByName(sel.select(F.col("hi").alias("vtx")))
            .distinct()
        )
        new_und = (
            und.join(mv.withColumnRenamed("vtx", "lo"), "lo", "anti")
            .join(mv.withColumnRenamed("vtx", "hi"), "hi", "anti")
            .select("lo", "hi", "pri")
            .localCheckpoint(eager=True)
        )
        parts.append(sel)
        matched = sel if matched is None else matched.unionByName(sel)
        old, und = und, new_und
        old.unpersist()

    out = (
        matched
        if matched is not None
        else und.select("lo", "hi").limit(0)
    ).localCheckpoint(eager=True)
    for s in parts:
        s.unpersist()
    und.unpersist()
    return MatchingResult(out, it, converged)
