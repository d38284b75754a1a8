"""Densest subgraph — batched greedy peeling (Bahmani, Kumar &
Vassilvitskii, "Densest subgraph in streaming and MapReduce", VLDB 2012 —
public knowledge).

Verum's reports rank how concentrated a neighborhood is (SURVEY.md Table A
C1 density family); the densest subgraph is the global extreme of that
question: the vertex set S maximizing rho(S) = |E(S)| / |S| over the
undirected simple view. Exact maximization is a parametric max-flow
(Goldberg 1984) — inherently sequential; the MapReduce-shaped algorithm is
the batched peel:

    S <- V;  best <- (rho(V), V)
    while S nonempty:
        remove EVERY v in S with deg_S(v) <= 2 (1 + eps) rho(S)
        if rho(S) > best.rho: best <- (rho(S), S)

Each pass removes a constant fraction of S (at least eps/(1+eps) of the
vertices have degree below the bar, by an averaging argument), so the loop
ends in O(log_{1+eps} n) rounds, and the best S seen satisfies
rho(best) >= rho* / (2 (1 + eps)) — Bahmani et al. Theorem 1. With
eps = 0 the batch rule still removes at least the minimum-degree vertex
per round (deg_min <= 2 rho always), degenerating gracefully toward
Charikar's sequential 2-approximation at O(n) worst-case rounds.

Spark shape (mirrors kcore.py's loop discipline):
  - the undirected simple view is materialized ONCE, hash-partitioned by
    ``a``; survivor filtering is a semi join per endpoint on that same
    key, so the O(E) side reshuffles only for the ``b``-side semi join;
  - per round: one scalar action (|S|, |E(S)| — the rho job) and one
    localCheckpoint of the shrunken membership; degrees are a groupBy on
    the surviving edge set, never a window;
  - the best S is tracked as a checkpointed DataFrame handle (no driver
    materialization); only 2 scalars per round reach the driver.

Skew: the peel bar is a global scalar, so hot vertices cost exactly their
degree in the groupBy — partial aggregation absorbs them; no per-key state.

Oracle (tests/test_densest.py): a pure-Python mirror of the same batched
rule is exact-equal on the same input (same eps, same tie-free rule), and
on tiny graphs brute force over all vertex subsets verifies the
2(1+eps)-approximation bound.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf


@dataclass
class DensestResult:
    vertices: DataFrame   # (vid,) of the best S seen
    density: float        # rho(best) = |E(best)| / |best|
    n_vertices: int
    n_edges: int
    rounds: int


def densest_subgraph(
    spark: SparkSession,
    edges: DataFrame,
    epsilon: float = 0.1,
    max_iter: int = 200,
) -> DensestResult:
    """Greedy-peel densest subgraph over the undirected simple view of
    ``edges`` (src, dst). Returns the best vertex set seen and its density.

    ``epsilon`` trades rounds for tightness: the result is within
    2(1+epsilon) of optimal in O(log_{1+eps} n) rounds. ``epsilon=0`` is
    allowed (pure min-degree batch peel) but unbounded in rounds on
    pathological graphs — ``max_iter`` caps it and the loop then returns
    the best S found so far (the approximation claim needs the full peel;
    a cap hit is reported via rounds == max_iter).
    """
    if epsilon < 0:
        raise ValueError(f"epsilon must be >= 0, got {epsilon}")
    with iterative_conf(spark):
        return _peel_loop(spark, edges, epsilon, max_iter)


def _peel_loop(spark, edges, epsilon, max_iter):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(P, "a")
        .localCheckpoint(eager=True)
    )
    live = und  # edges whose both endpoints survive
    # Vertex membership is implicit in the live edge set; isolated vertices
    # never help density (removing one raises rho), so S starts at the
    # non-isolated vertices and the peel bar handles the rest.
    n, m = _size_job(live)
    best_edges = live
    best_rho = (m / n) if n else 0.0
    best_n, best_m = n, m
    bar_mult = 2.0 * (1.0 + epsilon)
    rounds = 0
    dead: list[DataFrame] = []
    while n > 0 and rounds < max_iter:
        rounds += 1
        rho = m / n
        deg = (
            live.select(F.col("a").alias("vid"))
            .unionByName(live.select(F.col("b").alias("vid")))
            .groupBy("vid")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        survivors = deg.filter(F.col("deg") > bar_mult * rho).select("vid")
        new_live = (
            live.join(survivors.withColumnRenamed("vid", "a"), "a", "left_semi")
            .join(survivors.withColumnRenamed("vid", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        if live is not und:
            dead.append(live)
        live = new_live
        new_n, new_m = _size_job(live)
        if new_n == n:
            # epsilon=0 on a regular graph: the bar removes nothing; the
            # whole surviving graph is its own densest candidate and the
            # peel cannot make progress — stop (matches the mirror).
            break
        n, m = new_n, new_m
        if n and m / n > best_rho:
            best_rho, best_edges, best_n, best_m = m / n, live, n, m
    verts = (
        best_edges.select(F.col("a").alias("vid"))
        .unionByName(best_edges.select(F.col("b").alias("vid")))
        .distinct()
    )
    for df in dead + ([live] if live is not und else []):
        if df is not best_edges:
            df.unpersist()
    if und is not best_edges:
        und.unpersist()
    return DensestResult(verts, best_rho, best_n, best_m, rounds)


def _size_job(live: DataFrame) -> tuple[int, int]:
    """One scalar action: (|S|, |E(S)|) of the surviving simple view.
    S = endpoints of surviving edges (isolated vertices excluded by
    construction — see _peel_loop comment)."""
    row = (
        live.select(F.col("a").alias("vid"))
        .unionByName(live.select(F.col("b").alias("vid")))
        .agg(
            F.count_distinct("vid").alias("n"),
            (F.count(F.lit(1)) / 2).cast("long").alias("m"),
        )
        .collect()[0]
    )
    return int(row["n"]), int(row["m"])


def densest_mirror(edge_list, epsilon=0.1, max_iter=200):
    """Pure-Python mirror of the SAME batched rule — the test oracle.
    Takes [(u, v), ...]; returns (sorted vertex list, density, rounds)."""
    und = {(min(u, v), max(u, v)) for u, v in edge_list if u != v}
    n_m = lambda es: (len({x for e in es for x in e}), len(es))  # noqa: E731
    live = und
    n, m = n_m(live)
    best, best_rho = live, (m / n if n else 0.0)
    bar = 2.0 * (1.0 + epsilon)
    rounds = 0
    while n > 0 and rounds < max_iter:
        rounds += 1
        rho = m / n
        deg: dict = {}
        for a, b in live:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        surv = {v for v, d in deg.items() if d > bar * rho}
        new_live = {(a, b) for a, b in live if a in surv and b in surv}
        new_n, new_m = n_m(new_live)
        if new_n == n:
            break
        live, n, m = new_live, new_n, new_m
        if n and m / n > best_rho:
            best_rho, best = m / n, live
    verts = sorted({x for e in best for x in e})
    return verts, best_rho, rounds
