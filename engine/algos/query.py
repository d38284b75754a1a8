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

Returns the induced subgraph. Depth is small (<=4) so the frontier loop
needs no durable checkpointing; `left_anti` maintains the visited set
(SURVEY.md Table B J4/J5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf


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
        return _query_loop(spark, vertices, edges, topic, max_depth, dont_follow)


def _query_loop(spark, vertices, edges, topic, max_depth, dont_follow):
    nbrs = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    typed = vertices.select("vid", "vtype")

    visited = topic.select("vid").distinct().withColumn("depth", F.lit(0))
    frontier = visited.select("vid")
    # Checkpoints still readable by the NEXT round (frontier + visited);
    # older ones are released as soon as their last consumer materializes.
    live: list[DataFrame] = []
    for d in range(1, max_depth + 1):
        expandable = frontier.join(typed, "vid").filter(
            ~F.col("vtype").isin(list(dont_follow))
        ).select("vid")
        nxt = (
            nbrs.join(expandable.withColumnRenamed("vid", "u"), "u", "left_semi")
            .select(F.col("v").alias("vid"))
            .distinct()
            .join(visited.select("vid"), "vid", "left_anti")
            .withColumn("depth", F.lit(d))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            nxt.unpersist()
            break
        new_visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        # Both reads of the previous round's states are now materialized —
        # release them (bounds cached state to 2 frames, not O(depth)).
        for df in live:
            df.unpersist()
        live = [nxt, new_visited]
        visited = new_visited
        frontier = nxt.select("vid")

    nbrs.unpersist()  # only the loop reads it; results reference edges/visited
    sub_vertices = vertices.join(visited, "vid").select("vid", "name", "vtype", "depth")
    keep = visited.select("vid")
    sub_edges = (
        edges.join(keep.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(keep.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        .select("src", "dst", "rel", "weight")
    )
    return sub_vertices, sub_edges
