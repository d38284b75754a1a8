"""Connected components via alternating large-star / small-star.

Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components
in MapReduce and Beyond" (SOCC'14). Converges in O(log^2 n) rounds, <10 in
practice, independent of graph diameter — which is why it is the mandated
algorithm (BASELINE.json north_rule) rather than diameter-bound min-label
flooding: a path-shaped 10^9-vertex graph would need 10^9 flooding rounds.

Implementation is pure DataFrame ops; neighbor lists are never collected —
each star step is a groupBy-min + join, so hub vertices cost one partial-agg
row per partition, not an in-memory adjacency list.

Verum parity: the reference computed connectivity ad hoc with
``networkx.connected_components`` in analysis notebooks ([R example
notebooks, reconstructed — SURVEY.md Table A C1]); labels here match it
exactly: every vertex is labeled with the minimum vid of its component.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.algos.loopstate import (
    iterative_conf,
    observed_checkpoint,
    set_loop_partitions,
)


@dataclass
class CCResult:
    labels: DataFrame  # (vid, label) — label = min vid of the component
    rounds: int


def _sym(e: DataFrame) -> DataFrame:
    """Symmetric MULTIset view — deliberately no ``distinct``: both consumers
    (a groupBy-min and a join whose output is distinct'd) are duplicate-
    tolerant, so deduplicating here would be a pure extra shuffle per round
    (VERDICT r1 item 9)."""
    return e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).filter(F.col("u") != F.col("v"))


def _large_star(e: DataFrame) -> DataFrame:
    """For each u over the symmetric view: m = min(Γ(u) ∪ {u}); emit (v, m)
    for every neighbor v > u. ONE distinct (on the output) bounds the edge
    multiset per round.

    The per-u minimum rides a whole-partition window over the SAME
    exchange the neighbor rows need anyway — the r5 shape's
    groupBy-then-join paid a second full exchange of the symmetric view
    to bring the min back to its rows. Window.partitionBy with no
    orderBy needs only a sort on u, and min is duplicate-insensitive."""
    s = _sym(e)
    mn = F.min("v").over(Window.partitionBy("u"))
    return (
        s.select("u", "v", F.least(mn, F.col("u")).alias("m"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient to (max,min); for each u: m = min(Γ≤(u) ∪ {u}); emit (v, m)
    for v in Γ≤(u) ∪ {u}, dropping the m self-loop. Same single-exchange
    window-min as ``_large_star``; the self edge (u, m) is emitted from
    every row of u and collapses in the output distinct."""
    o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    m = F.min("v").over(Window.partitionBy("u"))  # all v < u, so m < u
    both = o.select("u", "v", m.alias("m"))
    nbr_edges = both.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edges = both.select("u", F.col("m").alias("v"))
    return (
        nbr_edges.unionByName(self_edges)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 50,
) -> CCResult:
    """Label every vertex with the min vid of its connected component
    (edge direction ignored; isolated vertices keep their own vid)."""
    with iterative_conf(spark):
        return _cc_loop(spark, edges, vertices, max_rounds)


def _cc_loop(spark, edges, vertices, max_rounds):
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vid"))
            .unionByName(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    vids = vertices.select("vid")

    # Lineage cut per round, in-memory, with the edge-set fingerprint
    # (count, xor of pair hashes) observed on the same job; rows are
    # distinct by construction.
    e, prev = observed_checkpoint(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        "u", "v",
    )
    # Scale-adaptive loop partitioning from the edge count the setup
    # materialization just observed (no extra job); the star-step rounds
    # build fresh plans, so no layout contract spans the conf change. The
    # rounds run over the doubled symmetric view (row_bytes=32).
    set_loop_partitions(spark, prev[0], row_bytes=32)
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        nxt, cur = observed_checkpoint(_small_star(_large_star(e)), "u", "v")
        e.unpersist()  # previous round's edge set is never read again
        e = nxt
        if cur == prev:
            break
        prev = cur

    # At the fixpoint the edge set is a union of stars (v, root). A vertex
    # appearing only as a root — or isolated — labels itself.
    assign = e.groupBy(F.col("u").alias("vid")).agg(F.min("v").alias("label"))
    labels = vids.join(assign, "vid", "left").select(
        "vid", F.coalesce("label", "vid").alias("label")
    )
    return CCResult(labels, rounds)
