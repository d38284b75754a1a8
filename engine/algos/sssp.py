"""Weighted single-source(-set) shortest paths — distance-limited context
ranking over the link graph (the weighted generalization of the k-hop
context query, SURVEY.md Table A Q1: "how far is every entity from this
seed set, counting edge weights as costs").

Synchronous Bellman–Ford relaxation (public classic; the Pregel/GraphX
formulation of SSSP is the same loop): dist_0 = 0 on sources, ∞
elsewhere; each round relaxes every edge once — dist'(v) = min(dist(v),
min over in-edges (u,v) of dist(u) + w(u,v)) — and stops when no distance
changed. Converges in at most (#vertices on the longest shortest path)
rounds; non-negative weights are required (checked) so the fixpoint is
the true distance and termination is guaranteed.

Spark shape (mirrors the other loops): edges normalized and partitioned
ONCE by dst; the state stays hash(vid)-partitioned; per round one join +
one min-aggregate + one co-partitioned merge join, one scalar job for the
change count. "Infinity" is represented by ABSENCE — the state only holds
settled/tentative vertices, so a round's work is proportional to the
reached frontier's edge cut, not to V (on a 10^12-file corpus with a
small seed set, early rounds touch a vanishing fraction of the graph, and
the engine never materializes an O(V) all-infinity vector).

Oracle: ``networkx.single_source_dijkstra_path_length`` / multi-source
(tests/test_sssp.py, exact on integer-weight fixtures, 1e-9 on floats).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf


@dataclass
class SSSPResult:
    distances: DataFrame  # (vid, dist) — ONLY reachable vertices
    iterations: int
    converged: bool


def shortest_paths(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    weighted: bool = True,
    max_iter: int = 100,
    max_dist: float | None = None,
) -> SSSPResult:
    """Distances from the ``sources`` (vid) set along (src, dst[, weight]).

    ``weighted=False`` treats every edge as cost 1 (= multi-source BFS
    with distances). ``max_dist`` prunes the frontier at a cost horizon —
    the weighted analogue of the context query's max_depth: vertices
    whose tentative distance exceeds it are dropped each round, bounding
    state size for local queries on a huge graph."""
    with iterative_conf(spark):
        return _sssp_loop(spark, edges, sources, weighted, max_iter, max_dist)


def _sssp_loop(spark, edges, sources, weighted, max_iter, max_dist):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    w = F.col("weight").cast("double") if weighted else F.lit(1.0)
    e = (
        edges.select("src", "dst", w.alias("w"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: keep the cheapest
        .repartition(P, "src")
        .localCheckpoint(eager=True)
    )
    bad = e.filter(F.col("w").isNull() | (F.col("w") < 0)).limit(1).count()
    if bad:
        e.unpersist()
        raise ValueError(
            "shortest_paths requires non-null, non-negative edge weights "
            "(a NULL weight would silently never relax its edge)"
        )

    dist = (
        sources.select("vid").distinct()
        .select("vid", F.lit(0.0).alias("dist"))
        .repartition(P, "vid")
        .localCheckpoint(eager=True)
    )

    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        # relax every edge out of currently-reached vertices
        relaxed = (
            e.join(dist.select(F.col("vid").alias("src"), "dist"), "src")
            .select(F.col("dst").alias("vid"), (F.col("dist") + F.col("w")).alias("cand"))
            .groupBy("vid")
            .agg(F.min("cand").alias("cand"))
        )
        merged = (
            dist.join(relaxed, "vid", "full")
            .select(
                "vid",
                F.least(
                    F.coalesce("dist", F.lit(float("inf"))),
                    F.coalesce("cand", F.lit(float("inf"))),
                ).alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.coalesce("cand", F.lit(float("inf"))) < F.col("dist"))
                ).alias("improved"),
            )
        )
        if max_dist is not None:
            merged = merged.filter(F.col("dist") <= max_dist)
        new_dist = merged.localCheckpoint(eager=True)
        changed = new_dist.filter("improved").limit(1).count()
        old, dist = dist, new_dist.drop("improved")
        old.unpersist()
        if changed == 0:
            converged = True
            break

    out = dist
    e.unpersist()
    return SSSPResult(out, it, converged)
