"""Exact graph diameter — iFUB (iterative Fringe Upper Bound) on batched
pivot BFS.

Public semantics: Crescenzi, Grossi, Habib, Lanzi, Marino, "On computing
the diameter of real-world undirected graphs" (TCS 2013): BFS from a
root r gives ecc(r) and the level decomposition; the diameter is bounded
by lb = ecc(r) and ub = 2*ecc(r), and processing fringe levels top-down
— computing the exact eccentricity of every vertex at level i — tightens
ub to 2*(i-1) per level and lb to the max eccentricity seen, terminating
when lb >= ub. On real-world graphs this inspects only the few topmost
levels (empirically tens of BFS runs, not V), which is why it is THE
practical exact-diameter algorithm; the worst case degrades to all-pairs
BFS, surfaced honestly here by ``bfs_count``.

Spark shape:

* Every BFS is the landmark module's shared multi-source loop
  (engine/algos/landmarks.py ``_multi_sssp`` with unit weights): a whole
  fringe level runs as ONE synchronous frontier loop over composite
  state (lid, vid, dist), so a level of m vertices costs the SAME number
  of rounds as one BFS, each round one equi-join + one partial-agg min.
* State is O(batch * V) — ``max_bfs_batch`` chunks a huge fringe level
  to bound executor state; chunks run sequentially, results fold by max.
* Root choice: highest-degree vertex (the paper's "hd" variant) — one
  partial-agg count + top-1.
* Connectivity is checked from the root BFS itself (reached == incident
  vertex count — no extra scan); a disconnected graph has infinite
  diameter and raises rather than returning a per-component answer.

Directed inputs are symmetrized — this is the UNDIRECTED diameter
(directed iFUB needs forward+backward sweeps; out of scope, documented).
Isolated vertices (no incident edge) are invisible to an edge-table
traversal and do not affect the undirected diameter of the rest.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.landmarks import _multi_sssp
from engine.algos.loopstate import iterative_conf


@dataclass(frozen=True)
class DiameterResult:
    diameter: int
    root: int  # the hd root the level decomposition came from
    root_ecc: int
    bfs_count: int  # total BFS sources run (1 root + fringe) — the cost
    levels_processed: int  # fringe levels inspected before lb met ub
    certificate: int  # a vertex whose eccentricity == diameter


def diameter(
    spark: SparkSession,
    edges: DataFrame,
    max_bfs_batch: int = 256,
    max_iter: int = 200,
) -> DiameterResult:
    """Exact undirected diameter of the graph induced by ``edges``.

    Raises on a disconnected graph (infinite diameter) and on BFS
    truncation at ``max_iter`` (a partial BFS would silently lower the
    eccentricity — fail loudly instead, per the repo's cap policy).
    """
    with iterative_conf(spark):
        return _ifub(spark, edges, max_bfs_batch, max_iter)


def _bfs(spark, e, seeds, max_iter):
    """Shared frontier loop over a seeds DataFrame (lid); returns the
    (lid, vid, dist) fixpoint — an eager checkpoint the caller releases.
    Raises on truncation (a partial BFS would understate eccentricity)."""
    dist, _, conv = _multi_sssp(spark, e, seeds, max_iter)
    if not conv:
        dist.unpersist()
        raise RuntimeError(
            f"diameter: BFS did not exhaust within max_iter={max_iter} "
            "rounds — raise max_iter (graph is deeper than the cap)"
        )
    return dist  # (lid, vid, dist) eager checkpoint — caller releases


def _ifub(spark, edges, max_bfs_batch, max_iter):
    fwd = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    e = (
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .select("src", "dst", F.lit(1.0).alias("w"))
        .localCheckpoint(eager=True)
    )
    try:
        n_vertices = e.select("src").distinct().count()
        if n_vertices == 0:
            raise ValueError("diameter: no non-loop edges")
        root_row = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .orderBy(F.col("d").desc(), F.col("src").asc())
            .limit(1)
            .collect()
        )
        root = int(root_row[0].src)
        levels = _bfs(
            spark, e, spark.createDataFrame([(root,)], "lid long"), max_iter
        )
        agg = levels.agg(
            F.count(F.lit(1)).alias("n"), F.max("dist").alias("ecc")
        ).collect()[0]
        if int(agg.n) != n_vertices:
            levels.unpersist()
            raise ValueError(
                f"diameter: graph is disconnected (root BFS reached "
                f"{int(agg.n)} of {n_vertices} incident vertices) — the "
                "undirected diameter is infinite; run per component"
            )
        root_ecc = int(agg.ecc)
        lb, ub = root_ecc, 2 * root_ecc
        cert = root
        bfs_count = 1
        levels_processed = 0
        i = root_ecc
        while ub > lb and i > 0:
            # The fringe level stays distributed — only its COUNT reaches
            # the driver; chunks are deterministic hash classes of ~batch
            # size (uneven by hash variance, bounded in expectation).
            fringe = (
                levels.filter(F.col("dist") == float(i))
                .select(F.col("vid").alias("lid"))
                .localCheckpoint(eager=True)
            )
            n_fringe = fringe.count()
            levels_processed += 1
            nchunks = max(1, -(-n_fringe // max_bfs_batch))
            for c in range(nchunks):
                seeds = (
                    fringe
                    if nchunks == 1
                    else fringe.filter(
                        F.pmod(F.xxhash64("lid"), F.lit(nchunks)) == F.lit(c)
                    )
                )
                d = _bfs(spark, e, seeds, max_iter)
                top = (
                    d.groupBy("lid")
                    .agg(F.max("dist").alias("ecc"))
                    .orderBy(F.col("ecc").desc(), F.col("lid").asc())
                    .limit(1)
                    .collect()
                )
                d.unpersist()
                if top and int(top[0].ecc) > lb:
                    lb, cert = int(top[0].ecc), int(top[0].lid)
            bfs_count += n_fringe
            fringe.unpersist()
            if lb > 2 * (i - 1):
                break
            ub = 2 * (i - 1)
            i -= 1
        levels.unpersist()
        return DiameterResult(
            diameter=lb,
            root=root,
            root_ecc=root_ecc,
            bfs_count=bfs_count,
            levels_processed=levels_processed,
            certificate=cert,
        )
    finally:
        e.unpersist()
