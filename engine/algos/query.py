"""Verum's context query: k-hop ego subgraph with dont_follow pruning.

Rebuild of the reference's ``app.query(topic, max_depth, dont_follow)``
([R verum/__init__.py::app.query -> plugins/networkx.py::query,
reconstructed — SURVEY.md Table A Q1]): BFS from the topic's seed vertices
to ``max_depth`` hops, traversing edges in BOTH directions (context is a
neighborhood, not a reachability cone), *including* but never *expanding
through* vertices whose type is in ``dont_follow`` (the reference default
pruned ``enrichment``/``classification`` fan-out nodes; our vertex types
make ``lang``/``commit`` the natural analogues — a popular lang would
otherwise connect everything to everything at depth 2).

Returns the induced subgraph. No adjacency is built: each frontier expands
straight off ``edges`` with two semi-joins (``src`` in the frontier gives
``dst``, ``dst`` in the frontier gives ``src``), and ``left_anti`` against
the visited set keeps only new vertices (SURVEY.md Table B J4/J5). Every
depth, the topic's distinct vids at depth 0 included, is one observed
checkpoint: the caller's ``topic`` is read once, and the observed count
ends the loop without a separate emptiness job. The visited set is the
union of those per-depth checkpoints. Depth is small (<=4), so the loop
needs no durable checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf, observed_checkpoint


def context_query(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    topic: DataFrame,
    max_depth: int = 4,
    dont_follow: tuple[str, ...] = ("lang", "commit"),
) -> tuple[DataFrame, DataFrame]:
    """(sub_vertices(vid, name, vtype, depth), induced sub_edges)."""
    with iterative_conf(spark):
        return _query_loop(vertices, edges, topic, max_depth, dont_follow)


def _query_loop(vertices, edges, topic, max_depth, dont_follow):
    expandable = vertices.filter(~F.col("vtype").isin(list(dont_follow))).select("vid")
    # Both directions of every edge, unmaterialized: the optimizer pushes
    # the frontier semi-join below the union, and both directions reuse one
    # frontier exchange (a frontier renamed to src and to dst is built twice).
    ends = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionByName(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    frontier, (n, _) = observed_checkpoint(
        topic.select("vid").distinct().withColumn("depth", F.lit(0)), "vid"
    )
    visited = frontier
    for d in range(1, max_depth + 1):
        if n == 0:
            break
        # shuffle_hash: broadcasting the vertices or the visited set costs a
        # Spark job per depth; a shuffle is a stage of the checkpoint's job.
        u = frontier.select("vid").join(expandable.hint("shuffle_hash"), "vid", "left_semi")
        reached = ends.join(u.withColumnRenamed("vid", "a"), "a", "left_semi")
        frontier, (n, _) = observed_checkpoint(
            reached.select(F.col("b").alias("vid")).distinct()
            .join(visited.select("vid").hint("shuffle_hash"), "vid", "left_anti")
            .withColumn("depth", F.lit(d)),
            "vid",
        )
        visited = visited.unionByName(frontier)

    sub_vertices = vertices.join(visited, "vid").select("vid", "name", "vtype", "depth")
    keep = visited.select("vid")
    sub_edges = (
        edges.join(keep.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(keep.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        .select("src", "dst", "rel", "weight")
    )
    return sub_vertices, sub_edges
