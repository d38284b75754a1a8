"""Degree-ordered triangle counting (BASELINE.json north_rule).

Classic MapReduce-friendly formulation (Suri & Vassilvitskii, WWW'11): order
vertices by (degree, vid); orient every undirected edge from the lower- to
the higher-ordered endpoint. The oriented graph is a DAG where every vertex
has out-degree O(sqrt(E)) — so the wedge self-join below cannot explode on
hub vertices (a raw undirected wedge join would square the hub degree; this
is the skew story for triangles). Each triangle {x<y<z} is counted exactly
once: wedge (x->y, x->z) closed by (y->z).

Verum parity: neighborhood density via ``networkx.triangles`` in analysis
notebooks ([R example notebooks, reconstructed — SURVEY.md Table A C1]);
oracle: ``sum(nx.triangles(g).values()) / 3`` exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf


def _oriented(edges: DataFrame) -> DataFrame:
    """(src, dst, dkey) — degree-ordered orientation of the simple
    undirected view; dkey = struct(deg(dst), dst) for wedge ordering."""
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    keyed = (
        und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            "a", "b",
            F.struct(F.col("da").alias("d"), F.col("a").alias("v")).alias("ka"),
            F.struct(F.col("db").alias("d"), F.col("b").alias("v")).alias("kb"),
        )
    )
    fwd = keyed.filter(F.col("ka") < F.col("kb")).select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.col("kb").alias("dkey")
    )
    rev = keyed.filter(F.col("ka") > F.col("kb")).select(
        F.col("b").alias("src"), F.col("a").alias("dst"), F.col("ka").alias("dkey")
    )
    return fwd.unionByName(rev)


def triangle_count(spark: SparkSession, edges: DataFrame) -> int:
    """Total triangles in the undirected simple view of ``edges``."""
    with iterative_conf(spark):
        return _count(spark, edges)


def _count(spark, edges):
    o = _oriented(edges).localCheckpoint(eager=True)
    x, y = o.alias("x"), o.alias("y")
    wedges = x.join(y, on="src").filter(F.col("x.dkey") < F.col("y.dkey")).select(
        F.col("x.dst").alias("wa"), F.col("y.dst").alias("wb")
    )
    closed = wedges.join(
        o.select(F.col("src").alias("wa"), F.col("dst").alias("wb")),
        ["wa", "wb"],
        "inner",
    )
    return closed.count()


def triangles_per_vertex(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """(vid, triangles) per vertex — each triangle credits all 3 corners
    (matches ``networkx.triangles``)."""
    with iterative_conf(spark):
        return _per_vertex(spark, edges)


def _per_vertex(spark, edges):
    o = _oriented(edges).localCheckpoint(eager=True)
    x, y = o.alias("x"), o.alias("y")
    tri = (
        x.join(y, on="src")
        .filter(F.col("x.dkey") < F.col("y.dkey"))
        .select("src", F.col("x.dst").alias("wa"), F.col("y.dst").alias("wb"))
        .join(
            o.select(F.col("src").alias("wa"), F.col("dst").alias("wb")),
            ["wa", "wb"],
            "inner",
        )
    )
    corners = (
        tri.select(F.col("src").alias("vid"))
        .unionByName(tri.select(F.col("wa").alias("vid")))
        .unionByName(tri.select(F.col("wb").alias("vid")))
    )
    counts = corners.groupBy("vid").agg(F.count(F.lit(1)).alias("triangles"))
    verts = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    return verts.join(counts, "vid", "left").select(
        "vid", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )


def clustering_coefficients(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """(vid, clustering) — local clustering coefficient of the undirected
    simple view: c(v) = triangles(v) / C(deg(v), 2), 0 where deg < 2.
    One projection over the per-vertex triangle counts joined with
    degrees; matches ``networkx.clustering`` exactly (rationals with
    small denominators evaluate identically in double)."""
    with iterative_conf(spark):
        tri = _per_vertex(spark, edges)
        und = (
            edges.select(F.least("src", "dst").alias("a"),
                         F.greatest("src", "dst").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        deg = (
            und.select(F.col("a").alias("vid"))
            .unionByName(und.select(F.col("b").alias("vid")))
            .groupBy("vid")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        possible = F.col("deg") * (F.col("deg") - 1) / 2.0
        return tri.join(deg, "vid", "left").select(
            "vid",
            F.when(F.coalesce("deg", F.lit(0)) >= 2,
                   F.col("triangles") / possible)
            .otherwise(F.lit(0.0)).alias("clustering"),
        )


def transitivity(spark: SparkSession, edges: DataFrame) -> float:
    """Global transitivity 3*triangles / #wedges of the undirected simple
    view (``networkx.transitivity``); 0.0 for wedge-free graphs."""
    with iterative_conf(spark):
        tri = _count(spark, edges)
        und = (
            edges.select(F.least("src", "dst").alias("a"),
                         F.greatest("src", "dst").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        deg = (
            und.select(F.col("a").alias("vid"))
            .unionByName(und.select(F.col("b").alias("vid")))
            .groupBy("vid")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        row = deg.agg(
            F.sum(F.col("deg") * (F.col("deg") - 1) / 2).alias("wedges")
        ).collect()[0]
        wedges = float(row["wedges"] or 0.0)
        return 3.0 * tri / wedges if wedges > 0 else 0.0
