"""Spectral centralities — Katz and eigenvector — as iterative DataFrame
power iterations over the link graph.

Verum ranks every node in a context subgraph by a propagation score
(SURVEY.md Table A S2/S3); PageRank is the graded rebuild, and these two
are the classic siblings a production scorer is asked for next: Katz
(attenuated path counting — credit flows along ALL walks, damped by
length, Katz 1953) and eigenvector centrality (the dominant-eigenvector
limit; Bonacich 1972). Both are public classics; the implementations
mirror the exact *semantics* of networkx's pure-python power iterations
(katz_centrality / eigenvector_centrality) so the tests have bit-level
oracles, while the *execution* is the engine's standard one-pass-per-
iteration DataFrame loop.

Iteration algebra (nx parity, directed: score flows src -> dst):

- Katz:        x'(v) = alpha * sum_{(u,v) in E} w(u,v) * x(u) + beta
               stop when  sum_v |x'(v) - x(v)| < V * tol,
               then (optionally) L2-normalize once.
- eigenvector: x'(v) = x(v) + sum_{(u,v) in E} w(u,v) * x(u)
               (the (A^T + I) trick that damps period-2 oscillation),
               L2-normalize EVERY round,
               stop when  sum_v |x'(v) - x(v)| < V * tol.

Scale shape (same discipline as pagerank.py / sssp.py):

- Edges are normalized, filtered and hash-partitioned on ``src`` ONCE
  before the loop (localCheckpoint); per iteration only the O(V) state
  moves — one shuffle into the gather join, one partial-aggregable
  ``groupBy(dst).sum`` (map-side combine bounds hub skew to one partial
  row per map partition), one co-partitioned merge with the old state.
- Katz runs ONE action per iteration: the L1 delta rides the state
  materialization via ``df.observe`` (Observation API), exactly the
  pagerank trick, because the update needs no global normalizer.
- Eigenvector needs the L2 norm *before* the convergence test can be
  evaluated on normalized values, so it runs one O(V+E) job (gather +
  norm via observe) plus one O(V) scalar job (post-normalization L1
  delta) per iteration — the second job touches no edges.
- Fail-loudly policy: like networkx (PowerIterationFailedConvergence)
  and the engine's k-core/coloring, a loop that exhausts ``max_iter``
  raises instead of returning silently unconverged scores.
- State materializes through ``loopstate.fresh_checkpoint`` — plain
  ``localCheckpoint`` carries origin plan statistics across the
  checkpoint in Spark 4.1, and a loop body with two state references
  squares that BigInt every iteration until the driver livelocks in
  BigInteger math (loopstate.py has the full post-mortem).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import fresh_checkpoint, iterative_conf


@dataclass
class CentralityResult:
    scores: DataFrame  # (vid, value)
    iterations: int


def _prep(spark, edges, vertices, weighted):
    """Normalized edge table partitioned on src + the full vertex set."""
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    w = F.col("weight").cast("double") if weighted else F.lit(1.0)
    e = (
        edges.select("src", "dst", w.alias("w"))
        .repartition(P, "src")
        .localCheckpoint(eager=True)
    )
    if weighted and e.filter(F.col("w").isNull()).limit(1).count():
        e.unpersist()
        raise ValueError(
            "weighted centrality requires non-null edge weights "
            "(a NULL weight would silently drop its edge from the gather)"
        )
    if vertices is None:
        vids = (
            e.select(F.col("src").alias("vid"))
            .unionByName(e.select(F.col("dst").alias("vid")))
            .distinct()
        )
    else:
        vids = vertices.select("vid")
    vids = vids.localCheckpoint(eager=True)
    return e, vids


def _gather(e, state):
    """sum over in-edges (u,v) of w(u,v) * x(u), keyed by vid=dst."""
    return (
        e.join(state.select(F.col("vid").alias("src"), "value"), "src")
        .groupBy(F.col("dst").alias("vid"))
        .agg(F.sum(F.col("w") * F.col("value")).alias("gath"))
    )


def katz_centrality(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.1,
    beta: float = 1.0,
    tol: float = 1e-6,
    max_iter: int = 1000,
    normalized: bool = True,
    weighted: bool = False,
) -> CentralityResult:
    """(vid, value) Katz centrality, exact networkx-semantics parity.

    ``alpha`` must be below 1/lambda_max of the adjacency matrix for the
    series to converge (caller's contract, same as networkx). Starts from
    the zero vector like networkx; converges when the L1 step delta drops
    below V * tol; raises RuntimeError at ``max_iter`` (fail-loudly).
    """
    with iterative_conf(spark):
        e, vids = _prep(spark, edges, vertices, weighted)
        n = vids.count()
        state = vids.select(
            "vid", F.lit(0.0).alias("value")
        ).localCheckpoint(eager=True)
        it = 0
        for it in range(1, max_iter + 1):
            obs = Observation(f"katz_{it}")
            nxt = (
                vids.join(_gather(e, state), "vid", "left")
                .join(state.select("vid", F.col("value").alias("old")), "vid")
                .select(
                    "vid",
                    (
                        F.lit(alpha) * F.coalesce("gath", F.lit(0.0))
                        + F.lit(beta)
                    ).alias("value"),
                    "old",
                )
                .observe(obs, F.sum(F.abs(F.col("value") - F.col("old"))).alias("l1"))
                .select("vid", "value")
            )
            # the ONE action this iteration; fresh_checkpoint (not bare
            # localCheckpoint) because the body references state twice —
            # carried origin stats would otherwise square per iteration
            # (see loopstate.py).
            nxt = fresh_checkpoint(nxt)
            state.unpersist()
            state = nxt
            if float(obs.get["l1"] or 0.0) < n * tol:
                break
        else:
            state.unpersist()
            e.unpersist()
            vids.unpersist()
            raise RuntimeError(
                f"katz_centrality did not converge in max_iter={max_iter} "
                "(is alpha below 1/lambda_max?)"
            )
        if normalized:
            s = float(
                state.agg(F.sqrt(F.sum(F.col("value") * F.col("value")))).collect()[0][0]
            )
            out = state.select("vid", (F.col("value") / F.lit(s or 1.0)).alias("value"))
            out = out.localCheckpoint(eager=True)
            state.unpersist()
        else:
            out = state
        e.unpersist()
        vids.unpersist()
        return CentralityResult(out, it)


def eigenvector_centrality(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    tol: float = 1e-6,
    max_iter: int = 100,
    weighted: bool = False,
) -> CentralityResult:
    """(vid, value) eigenvector centrality, exact networkx-semantics parity
    (the (A^T + I) power iteration with per-round L2 normalization; for
    undirected semantics pass a symmetrized edge table).

    Starts uniform at 1/V like networkx; raises RuntimeError at
    ``max_iter`` (networkx raises PowerIterationFailedConvergence).
    """
    with iterative_conf(spark):
        e, vids = _prep(spark, edges, vertices, weighted)
        n = vids.count()
        state = vids.select(
            "vid", F.lit(1.0 / n).alias("value")
        ).localCheckpoint(eager=True)
        it = 0
        for it in range(1, max_iter + 1):
            # job 1 (O(V+E)): gather + self term, L2 norm observed on the
            # unnormalized materialization.
            obs = Observation(f"eig_{it}")
            unnorm = (
                state.join(_gather(e, state), "vid", "left")
                .select(
                    "vid",
                    (F.col("value") + F.coalesce("gath", F.lit(0.0))).alias("nv"),
                    F.col("value").alias("old"),
                )
                .observe(obs, F.sum(F.col("nv") * F.col("nv")).alias("sq"))
            )
            unnorm = fresh_checkpoint(unnorm)
            norm = float(obs.get["sq"] or 0.0) ** 0.5 or 1.0
            # job 2 (O(V), no edges): normalized state + L1 convergence
            # delta observed on ITS materialization.
            obs2 = Observation(f"eig_d_{it}")
            nxt = (
                unnorm.select(
                    "vid", (F.col("nv") / F.lit(norm)).alias("value"), "old"
                )
                .observe(obs2, F.sum(F.abs(F.col("value") - F.col("old"))).alias("l1"))
                .select("vid", "value")
            )
            nxt = fresh_checkpoint(nxt)
            unnorm.unpersist()
            state.unpersist()
            state = nxt
            if float(obs2.get["l1"] or 0.0) < n * tol:
                break
        else:
            state.unpersist()
            e.unpersist()
            vids.unpersist()
            raise RuntimeError(
                f"eigenvector_centrality did not converge in max_iter={max_iter}"
            )
        e.unpersist()
        vids.unpersist()
        return CentralityResult(state, it)
