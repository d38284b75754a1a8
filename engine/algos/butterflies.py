"""Butterfly (bipartite 4-cycle) counting.

The butterfly — a complete 2x2 biclique (u1, u2 | r1, r2) with all four
edges present — is the bipartite analogue of the triangle: the smallest
unit of cohesion in a two-mode graph, the building block of bitruss
decomposition and bipartite clustering coefficients (Sanei-Mehri,
Sariyüce & Tirthapura, KDD 2018, "Butterfly Counting in Bipartite
Networks"; Wang et al., VLDB 2019, vertex-priority BFC). In this
engine's domain the repo->path layer of the derived edge table
(engine/derive.py) IS a bipartite graph, and its butterfly count
measures co-dependency density: how often two repos share two paths.

Math: with c(x, y) = |N(x) ∩ N(y)| for same-side pairs x < y,

    total butterflies B = Σ_{x<y} C(c(x,y), 2)

computed from either side — the pair (x, y) ranges over the NON-center
side, wedges are generated at the center side. The whole cost is wedge
generation: Σ_centers C(deg, 2). Spark shape:

* **Side selection** (the KDD'18 layer-choice optimization): both
  candidate wedge costs are two scalar aggregates over the degree
  tables; wedges are generated at whichever side is cheaper. On
  repo->path graphs the two costs differ by orders of magnitude
  (many repos share few hub paths vs. the reverse), so this is the
  difference between feasible and not.
* Wedge generation is ONE self-equi-join on the center vertex — the
  exact machinery of degree-ordered triangles (engine/algos/
  triangles.py) — followed by a partial-aggregable groupBy on the
  pair key. No driver loop, no UDF, everything whole-stage codegen.
* **Hub cap** (``max_center_degree``): a web-scale center hub (a path
  like ``README.md`` shared by 10^8 repos) alone generates C(10^8, 2)
  ≈ 5·10^15 wedges — intractable for ANY exact pair-listing algorithm,
  not a Spark limitation. The cap excludes such centers from wedge
  generation, COUNTS them (``centers_skipped``), and the result is a
  documented exact-lower-bound, the same count-then-drop contract as
  the co-occurrence cap in engine/derive.py. Default None = exact.

Verum parity: Verum has no bipartite counter; this extends its C1
"neighborhood density" family (SURVEY.md Table A) to the two-mode
layers of the enrichment graph, where triangles are structurally
impossible (bipartite graphs are triangle-free).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf


@dataclass
class ButterflyResult:
    total: int
    wedged_side: str            # "src" or "dst": the CENTER side used
    wedge_cost: int             # Σ C(deg, 2) actually generated
    # hubs excluded by max_center_degree. Side-DEPENDENT: the side is
    # chosen by capped wedge cost, and only the chosen center side's
    # over-cap hubs are skipped — so what the exact-lower-bound excludes
    # depends on that choice.
    centers_skipped: int
    per_vertex: DataFrame | None  # (vid, side, butterflies), see below


def butterflies(
    spark: SparkSession,
    edges: DataFrame,
    max_center_degree: int | None = None,
    per_vertex: bool = False,
) -> ButterflyResult:
    """Count butterflies in the bipartite graph ``edges`` (src = left
    layer, dst = right layer; duplicate edges collapse — a multi-edge
    does not make extra butterflies).

    ``per_vertex=True`` additionally returns exact per-vertex butterfly
    participation for BOTH layers: a butterfly (u1, u2 | r1, r2) credits
    each of its four corners once (the bipartite analogue of
    ``networkx.triangles``). Column ``side`` says which input column the
    vertex came from — the two layers are distinct namespaces
    (repo vs path) and may reuse ids.
    """
    with iterative_conf(spark):
        return _butterflies(spark, edges, max_center_degree, per_vertex)


def _wedge_cost(deg: DataFrame) -> int:
    # Pure integer arithmetic (ADVICE r5): deg*(deg-1) is even per row, so
    # summing longs and halving on the driver is exact at any scale — the
    # former double sum silently lost exactness past 2^53 wedges.
    row = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1)).alias("c")
    ).collect()[0]
    return int(row["c"] or 0) // 2


def _butterflies(spark, edges, max_center_degree, per_vertex):
    e = (
        edges.select("src", "dst")
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg_src = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    deg_dst = e.groupBy("dst").agg(F.count(F.lit(1)).alias("deg"))
    if max_center_degree is not None and max_center_degree < 2:
        raise ValueError(
            f"butterflies: max_center_degree must be >= 2 (a center "
            f"needs 2 neighbors to form a wedge), got {max_center_degree}"
        )
    if max_center_degree is None:
        cost_src_centers = _wedge_cost(deg_src)   # wedges if centers = src
        cost_dst_centers = _wedge_cost(deg_dst)   # wedges if centers = dst
    else:
        # Side selection on the CAPPED degree tables (ADVICE r5): with a
        # cap, the wedge work each side would actually do excludes its
        # over-cap hubs, and a single hub must not force the choice of
        # the more expensive side. Which vertices end up skipped is
        # therefore side-dependent (documented in the result contract).
        cost_src_centers = _wedge_cost(
            deg_src.filter(F.col("deg") <= max_center_degree)
        )
        cost_dst_centers = _wedge_cost(
            deg_dst.filter(F.col("deg") <= max_center_degree)
        )

    if cost_src_centers <= cost_dst_centers:
        side, deg_c = "src", deg_src
        w = e.select(F.col("src").alias("c"), F.col("dst").alias("n"))
    else:
        side, deg_c = "dst", deg_dst
        w = e.select(F.col("dst").alias("c"), F.col("src").alias("n"))

    centers_skipped = 0
    if max_center_degree is not None:
        centers_skipped = int(
            deg_c.filter(F.col("deg") > max_center_degree).count()
        )
        if centers_skipped:
            # Anti-join OUT the skipped hubs: the list of over-cap centers
            # is small by construction (they are the extreme tail), so
            # this is a broadcast anti-join, and the wedge join below
            # never sees a hub adjacency.
            hubs = deg_c.filter(F.col("deg") > max_center_degree).select(
                F.col(side).alias("c")
            )
            w = w.join(F.broadcast(hubs), "c", "left_anti")
        kept_cost = _wedge_cost(
            w.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
        )
    else:
        kept_cost = min(cost_src_centers, cost_dst_centers)

    w = w.localCheckpoint(eager=True)
    a, b = w.alias("a"), w.alias("b")
    # One wedge (x, y) per center, canonical x < y; pair counts c(x, y).
    wedges = (
        a.join(b, "c")
        .filter(F.col("a.n") < F.col("b.n"))
        .select("c", F.col("a.n").alias("x"), F.col("b.n").alias("y"))
    )
    pair_cnt = wedges.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cw"))

    # C(cw, 2) sums in pure integers (ADVICE r5): cw*(cw-1) is even per
    # row, so long sums halved exactly — no double rounding past 2^53.
    if not per_vertex:
        row = pair_cnt.agg(
            F.sum(F.col("cw") * (F.col("cw") - 1)).alias("b")
        ).collect()[0]
        total = int(row["b"] or 0) // 2
        w.unpersist()
        e.unpersist()
        return ButterflyResult(total, side, kept_cost, centers_skipped, None)

    pair_cnt = pair_cnt.localCheckpoint(eager=True)
    row = pair_cnt.agg(
        F.sum(F.col("cw") * (F.col("cw") - 1)).alias("b")
    ).collect()[0]
    total = int(row["b"] or 0) // 2

    # Non-center layer: pair (x, y) with cw common centers puts BOTH x
    # and y in C(cw, 2) butterflies. cw*(cw-1) is even per row, so the
    # per-row integer halving is exact and the credit sum stays long.
    bf_pair = F.expr("cw * (cw - 1) DIV 2")
    noncenter = (
        pair_cnt.select(F.col("x").alias("vid"), bf_pair.alias("bf"))
        .unionByName(pair_cnt.select(F.col("y").alias("vid"), bf_pair.alias("bf")))
        .groupBy("vid")
        .agg(F.sum("bf").alias("butterflies"))
    )
    # Center layer: center r of wedge (x, r, y) joins each of the other
    # cw-1 common centers of (x, y) in one butterfly — credit cw-1 per
    # wedge it centers.
    center = (
        wedges.join(pair_cnt, ["x", "y"])
        .groupBy("c")
        .agg(F.sum(F.col("cw") - 1).cast("long").alias("butterflies"))
        .withColumnRenamed("c", "vid")
    )
    other_side = "dst" if side == "src" else "src"
    all_nc = (
        e.select(F.col(other_side).alias("vid")).distinct()
        .join(noncenter, "vid", "left")
        .select(
            "vid",
            F.lit(other_side).alias("side"),
            F.coalesce("butterflies", F.lit(0)).alias("butterflies"),
        )
    )
    all_c = (
        e.select(F.col(side).alias("vid")).distinct()
        .join(center, "vid", "left")
        .select(
            "vid",
            F.lit(side).alias("side"),
            F.coalesce("butterflies", F.lit(0)).alias("butterflies"),
        )
    )
    pv = all_nc.unionByName(all_c).localCheckpoint(eager=True)
    pair_cnt.unpersist()
    w.unpersist()
    e.unpersist()
    return ButterflyResult(total, side, kept_cost, centers_skipped, pv)
