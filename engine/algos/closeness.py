"""Closeness centrality from a pivot sample (Freeman 1978 definition,
Wasserman–Faust reachability correction; pivot estimator per
Eppstein & Wang 2004, "Fast approximation of centrality" — public
knowledge). Completes the centrality family next to PageRank, HITS,
Katz, eigenvector, harmonic (HyperBall) and betweenness.

Exact closeness needs all-pairs shortest paths — O(V·E), unthinkable at
10^9 vertices. The standard practice is a uniform pivot sample: run BFS
from k pivots only and plug the sampled distance sums into the same
formula; the estimate concentrates as 1/sqrt(k) (Eppstein–Wang).

One set-oriented computation for ALL pivots at once, the same state
shape as betweenness' forward phase — (s, vid, dist) keyed by pivot s,
one Spark job per BFS *layer* regardless of pivot count. Directed
semantics match ``networkx.closeness_centrality``: distances INTO the
vertex (a pivot's forward BFS along src->dst yields dist(s -> v), which
is an in-distance at v).

Let k_v = |pivots \\ {v}|, R_v = #{s in pivots, s != v : dist(s,v) < inf},
T_v = sum of those distances. The returned score is

    C(v) = (R_v / T_v) * (R_v / k_v   if wf_improved else   1)

and 0 when T_v == 0. With pivots = all vertices this is EXACTLY the
networkx formula both with and without the Wasserman–Faust factor
(R_v = n_reach-1, T_v = totsp, k_v = n-1); with a sample it is the
plug-in estimator — the (n-1)/k_v scale factors on numerator and
denominator of the first term cancel, so no graph-size estimate enters.

Iteration-cap policy: like betweenness (ADVICE r3), a frontier still
alive at max_iter means silently wrong sums — fail loudly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf


@dataclass
class ClosenessResult:
    scores: DataFrame  # (vid, closeness)
    pivots: int
    max_depth: int


def closeness(
    spark: SparkSession,
    edges: DataFrame,
    pivots: DataFrame | None = None,
    max_iter: int = 100,
    wf_improved: bool = True,
) -> ClosenessResult:
    """Closeness centrality over the pivot set (every vertex if ``pivots``
    is None — exact, affordable only on small graphs; pass a sampled
    (vid) DataFrame at scale, e.g. ``sampling.hash_sample`` output)."""
    with iterative_conf(spark):
        return _closeness(spark, edges, pivots, max_iter, wf_improved)


def _ckpt(df):
    return df.localCheckpoint(eager=True)


def _bfs_from_pivots(spark, edges, pivots, max_iter, what):
    """Shared all-pivot BFS: returns (e, verts, piv, n_piv, settled, depth)
    with settled = (s, vid, dist) for every (pivot, reachable vertex)
    pair. Caller owns unpersisting e / piv / settled."""
    e = _ckpt(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    verts = (
        e.select(F.col("src").alias("vid"))
        .unionByName(e.select(F.col("dst").alias("vid")))
        .distinct()
    )
    if pivots is None:
        pivots = verts
    piv = _ckpt(pivots.select(F.col("vid").alias("s")).distinct())
    n_piv = piv.count()

    # BFS from every pivot at once: settled (s, vid, dist); unweighted, so
    # first reach = shortest. Layer-at-a-time; the frontier is the only
    # growing join input, the edge table is static and checkpointed once.
    settled = _ckpt(
        piv.select("s", F.col("s").alias("vid"), F.lit(0).alias("dist"))
    )
    frontier = settled
    depth = 0
    exhausted = False
    for depth in range(1, max_iter + 1):
        nxt = (
            frontier.join(e.withColumnRenamed("src", "vid"), "vid")
            .select("s", F.col("dst").alias("vid"))
            .distinct()
            .join(settled.select("s", "vid"), ["s", "vid"], "anti")
            .select("s", "vid", F.lit(depth).alias("dist"))
        )
        nxt = _ckpt(nxt)
        if nxt.limit(1).count() == 0:
            nxt.unpersist()
            depth -= 1
            exhausted = True
            break
        prev_settled, prev_frontier = settled, frontier
        settled = _ckpt(settled.unionByName(nxt))
        frontier = nxt
        prev_settled.unpersist()
        if prev_frontier is not prev_settled:
            prev_frontier.unpersist()
    if not exhausted:
        remaining = (
            frontier.join(e.withColumnRenamed("src", "vid"), "vid")
            .select("s", F.col("dst").alias("vid"))
            .join(settled.select("s", "vid"), ["s", "vid"], "anti")
            .limit(1)
            .count()
        )
        if remaining > 0:
            settled.unpersist()
            e.unpersist()
            piv.unpersist()
            raise ValueError(
                f"{what} BFS did not exhaust within max_iter={max_iter} "
                f"layers; truncated distance sums would yield wrong scores "
                f"— raise max_iter (graph diameter exceeds the cap)"
            )
    return e, verts, piv, n_piv, settled, depth


def _closeness(spark, edges, pivots, max_iter, wf_improved):
    e, verts, piv, n_piv, settled, depth = _bfs_from_pivots(
        spark, edges, pivots, max_iter, "closeness"
    )
    # Per-vertex sums over NON-SELF pivots (the self row contributes dist=0
    # to T_v but must not count in R_v).
    stats = (
        settled.filter(F.col("s") != F.col("vid"))
        .groupBy("vid")
        .agg(
            F.count(F.lit(1)).alias("r"),
            F.sum("dist").alias("t"),
        )
    )
    # k_v = pivots excluding v itself: semi-join marks pivot vertices.
    is_piv = piv.select(F.col("s").alias("vid"), F.lit(1).alias("self_piv"))
    base = F.col("r") / F.col("t")
    wf = (F.col("r") / F.col("k_v")) if wf_improved else F.lit(1.0)
    scores = (
        verts.join(stats, "vid", "left")
        .join(is_piv, "vid", "left")
        .withColumn(
            "k_v", F.lit(n_piv) - F.coalesce("self_piv", F.lit(0))
        )
        .select(
            "vid",
            F.when(
                F.coalesce("t", F.lit(0)) > 0, base * wf
            ).otherwise(F.lit(0.0)).alias("closeness"),
        )
    )
    out = _ckpt(scores)
    settled.unpersist()
    e.unpersist()
    piv.unpersist()
    return ClosenessResult(out, n_piv, depth)


def harmonic(
    spark: SparkSession,
    edges: DataFrame,
    pivots: DataFrame | None = None,
    max_iter: int = 100,
) -> ClosenessResult:
    """Harmonic centrality H(v) = Σ 1/d(s, v) over sources s reaching v
    (Marchiori & Latora 2000; the distance-sum dual of closeness that
    stays finite on disconnected graphs). With ``pivots=None`` this is
    EXACTLY ``networkx.harmonic_centrality``; with a sampled pivot set it
    returns the unbiased plug-in estimate (n-1)/k_v · Σ_{s∈pivots} 1/d —
    the exact complement to engine/algos/neighborhood.py's HyperBall,
    which approximates the same quantity with HLL registers in O(D)
    rounds instead of O(k) BFS trees. Scores column: ``harmonic``."""
    with iterative_conf(spark):
        e, verts, piv, n_piv, settled, depth = _bfs_from_pivots(
            spark, edges, pivots, max_iter, "harmonic"
        )
        stats = (
            settled.filter(F.col("s") != F.col("vid"))
            .groupBy("vid")
            .agg(F.sum(F.lit(1.0) / F.col("dist")).alias("h"))
        )
        n_vert = verts.count()
        is_piv = piv.select(
            F.col("s").alias("vid"), F.lit(1).alias("self_piv")
        )
        scores = (
            verts.join(stats, "vid", "left")
            .join(is_piv, "vid", "left")
            .withColumn(
                "k_v", F.lit(n_piv) - F.coalesce("self_piv", F.lit(0))
            )
            .select(
                "vid",
                F.when(
                    F.col("k_v") > 0,
                    F.coalesce("h", F.lit(0.0))
                    * (F.lit(float(n_vert - 1)) / F.col("k_v")),
                ).otherwise(F.lit(0.0)).alias("harmonic"),
            )
        )
        out = _ckpt(scores)
        settled.unpersist()
        e.unpersist()
        piv.unpersist()
        return ClosenessResult(out, n_piv, depth)
