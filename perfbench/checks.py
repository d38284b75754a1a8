"""Correctness checks on engine outputs. Each returns a list of problems;
an empty list means the output passed."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hash_problems(violations: int) -> list[str]:
    return [] if violations == 0 else [f"{violations} rows fail the sha256 check"]


def graph_problems(vertices: DataFrame, edges: DataFrame) -> list[str]:
    """Dense unique vids, every edge endpoint a vertex, no duplicate
    (src, dst, rel)."""
    out = []
    v = vertices.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("vid").alias("d"),
        F.min("vid").alias("lo"), F.max("vid").alias("hi"),
    ).collect()[0]
    if v["n"] == 0:
        out.append("no vertices")
    elif not (v["n"] == v["d"] and v["lo"] == 0 and v["hi"] == v["n"] - 1):
        out.append(f"vids not unique and dense: n={v['n']} distinct={v['d']} "
                   f"range=[{v['lo']}, {v['hi']}]")
    ids = vertices.select("vid")
    dangling = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .join(ids, "vid", "left_anti").count()
    )
    if dangling:
        out.append(f"{dangling} edge endpoints are not vertices")
    dups = edges.groupBy("src", "dst", "rel").count().filter("count > 1").count()
    if dups:
        out.append(f"{dups} duplicate (src, dst, rel) keys")
    return out


def pagerank_problems(ranks: DataFrame, converged: bool, l1_delta: float,
                      resumed_from: int | None, tol: float) -> list[str]:
    out = []
    if not converged or not l1_delta < tol:
        out.append(f"PageRank not converged: l1_delta={l1_delta} tol={tol}")
    if resumed_from is None:
        out.append("PageRank did not resume from its checkpoint")
    total = ranks.agg(F.sum("value").alias("s")).collect()[0]["s"]
    if total is None or abs(total - 1.0) > 1e-9:
        out.append(f"rank sum {total} is not 1 +- 1e-9")
    return out


def cc_problems(labels: DataFrame, edges: DataFrame) -> list[str]:
    """label(src) == label(dst) on every edge, label <= vid, and every
    label is its own label (a component root)."""
    out = []
    lab = labels.select("vid", "label")
    split = (
        edges.join(lab.withColumnRenamed("vid", "src").withColumnRenamed("label", "ls"), "src")
        .join(lab.withColumnRenamed("vid", "dst").withColumnRenamed("label", "ld"), "dst")
        .filter(F.col("ls") != F.col("ld")).count()
    )
    if split:
        out.append(f"{split} edges join different components")
    above = lab.filter(F.col("label") > F.col("vid")).count()
    if above:
        out.append(f"{above} labels exceed their vid")
    roots = lab.select(F.col("vid").alias("label"), F.col("label").alias("root"))
    not_root = (
        lab.select("label").distinct().join(roots, "label", "left")
        .filter(F.col("root").isNull() | (F.col("root") != F.col("label"))).count()
    )
    if not_root:
        out.append(f"{not_root} labels are not their own label")
    return out


def lpa_problems(labels: DataFrame, vertices: DataFrame) -> list[str]:
    stray = (
        labels.select(F.col("label").alias("vid")).distinct()
        .join(vertices.select("vid"), "vid", "left_anti").count()
    )
    return [f"{stray} LPA labels are not vids"] if stray else []


def query_problems(sub_vertices, sub_edges, topic: list[int], max_depth: int) -> list[str]:
    """``sub_vertices``/``sub_edges`` are the collected (pandas) subgraph."""
    out = []
    depth = dict(zip(sub_vertices["vid"].tolist(), sub_vertices["depth"].tolist()))
    bad_seeds = [v for v in topic if depth.get(v) != 0]
    if bad_seeds:
        out.append(f"topic seeds not at depth 0: {bad_seeds[:5]}")
    deep = sum(1 for d in depth.values() if d > max_depth)
    if deep:
        out.append(f"{deep} vertices deeper than max_depth={max_depth}")
    stray = sum(1 for s, d in zip(sub_edges["src"].tolist(), sub_edges["dst"].tolist())
                if s not in depth or d not in depth)
    if stray:
        out.append(f"{stray} subgraph edges leave the subgraph")
    return out
