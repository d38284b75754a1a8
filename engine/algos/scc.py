"""Strongly connected components — the directed complement of cc.py
(Verum's context graphs are directed; cycles of enrichment references are
exactly the structures an analyst wants collapsed before scoring).

Coloring algorithm (Orzan 2004, "A distributed algorithm for strong
connectivity"; the same decomposition underlies FW-BW-Trim, Fleischer et
al. 2000 — public knowledge):

  repeat until every vertex is assigned:
    1. TRIM  — peel vertices with in-degree 0 or out-degree 0 within the
       unassigned subgraph (each is a singleton SCC); repeat to fixpoint.
       Real link graphs are mostly DAG, so trimming alone usually
       assigns the bulk of the graph in a handful of rounds.
    2. COLOR — propagate color(v) = max(own vid, colors of in-neighbors)
       along edge direction to fixpoint: color(v) = the largest vid that
       can reach v. Vertices with color(v) == v are roots.
    3. CAPTURE — the SCC of root r is every vertex of color r that can
       REACH r: a backward BFS from all roots at once, restricted to
       same-color edges (one frontier DataFrame for every root — the
       per-color searches share each Spark job). Assign, remove, loop.

Every step is joins/aggregates over (src, dst) + an O(V_unassigned) state
— no per-root sequential work, no Python in the loop. Worst case (one
long chain of 2-cycles) needs O(#SCCs) outer rounds like every
label-propagation SCC; the trim step is what makes real corpora cheap.

Oracle: ``networkx.strongly_connected_components`` exact, with the
canonical label = min member vid (tests/test_scc.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf


@dataclass
class SCCResult:
    labels: DataFrame  # (vid, label) — label = min vid of the component
    outer_rounds: int
    converged: bool  # False => PARTIAL: labels cover only the vertices
    #                  assigned before an inner fixpoint hit max_inner;
    #                  every emitted label is still correct


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_outer: int = 50,
    max_inner: int = 200,
) -> SCCResult:
    with iterative_conf(spark):
        return _scc_loop(spark, edges, vertices, max_outer, max_inner)


def condensation(
    spark: SparkSession,
    edges: DataFrame,
    scc: SCCResult | None = None,
    **scc_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """The SCC quotient graph (``networkx.condensation`` semantics,
    public knowledge): contract every strongly connected component to
    one vertex (its min-vid label), keep one edge per ordered component
    pair with the ORIGINAL edge multiplicity as ``weight``. The result
    is always a DAG — the standard preprocessing that turns any directed
    graph into input for the topological machinery (toposort.py layers,
    longest paths, DAG reachability).

    Returns ``(labels, quotient_edges)`` where labels is (vid, label)
    and quotient_edges is (src, dst, weight) over labels. Pass a
    precomputed ``scc`` to reuse labels; otherwise one is computed here
    (and a PARTIAL result — converged=False — raises: contracting with
    incomplete labels would silently merge unassigned vertices).

    Spark shape: two broadcast-free equi-joins (edges x labels on each
    endpoint, the same O(E) gather as everything else) + one partial-agg
    count; self-pairs (intra-component edges) drop in the filter.
    """
    if scc is not None and scc_kwargs:
        raise ValueError(
            "condensation: scc and scc_kwargs are mutually exclusive — "
            f"kwargs {sorted(scc_kwargs)} would be silently ignored"
        )
    res = scc or strongly_connected_components(spark, edges, **scc_kwargs)
    if not res.converged:
        raise ValueError(
            "condensation: SCC labels are partial (converged=False) — "
            "contracting would silently merge unassigned vertices; raise "
            "max_outer/max_inner"
        )
    lab = res.labels
    q = (
        edges.select("src", "dst")
        .join(lab.select(F.col("vid").alias("src"), F.col("label").alias("ls")), "src")
        .join(lab.select(F.col("vid").alias("dst"), F.col("label").alias("ld")), "dst")
        .filter(F.col("ls") != F.col("ld"))
        .groupBy(F.col("ls").alias("src"), F.col("ld").alias("dst"))
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return lab, q


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _scc_loop(spark, edges, vertices, max_outer, max_inner):
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
    if vertices is not None:
        verts = verts.unionByName(vertices.select("vid")).distinct()
    live_v = _ckpt(verts)          # unassigned vertices
    live_e = e                      # edges among unassigned vertices
    assigned = None                 # (vid, label) accumulated across rounds

    def add(labels):
        nonlocal assigned
        labels = _ckpt(labels)
        if assigned is None:
            assigned = labels
        else:
            prev = assigned
            assigned = _ckpt(prev.unionByName(labels))
            prev.unpersist()
            labels.unpersist()

    converged = False
    outer = 0
    for outer in range(1, max_outer + 1):
        if live_v.limit(1).count() == 0:
            converged = True
            break

        # 1. TRIM to fixpoint: in/out-degree-0 vertices are their own SCC
        # (min-vid canonical label = the vid itself).
        trim_done = False
        for _ in range(max_inner):
            srcs = live_e.select(F.col("src").alias("vid")).distinct()
            dsts = live_e.select(F.col("dst").alias("vid")).distinct()
            both = srcs.join(dsts, "vid", "semi")
            trimmed = live_v.join(both, "vid", "anti")
            n_trim = trimmed.limit(1).count()
            if n_trim == 0:
                trim_done = True
                break
            add(trimmed.select("vid", F.col("vid").alias("label")))
            new_v = _ckpt(live_v.join(both, "vid", "semi"))
            new_e = _ckpt(
                live_e.join(new_v.select(F.col("vid").alias("src")), "src", "semi")
                .join(new_v.select(F.col("vid").alias("dst")), "dst", "semi")
            )
            live_v.unpersist(); live_e.unpersist()
            live_v, live_e = new_v, new_e
        if live_v.limit(1).count() == 0:
            converged = True
            break
        if not trim_done:
            # exhausted without a trim fixpoint: labeling from a partial
            # trim is still CORRECT (only fully-trimmed singletons were
            # assigned), but report non-convergence and stop rather than
            # risk a stale-color capture below
            break

        # 2. COLOR: forward max-propagation to fixpoint. An unconverged
        # coloring would produce FALSE roots (vertices that merely never
        # saw the true max) and silently wrong components, so exhaustion
        # aborts the round with converged=False instead of capturing.
        color = _ckpt(live_v.select("vid", F.col("vid").alias("color")))
        color_done = False
        for _ in range(max_inner):
            pushed = (
                live_e.join(
                    color.select(F.col("vid").alias("src"), "color"), "src"
                )
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.max("color").alias("pc"))
            )
            new_color = _ckpt(
                color.join(pushed, "vid", "left").select(
                    "vid", F.greatest("color", F.coalesce("pc", F.lit(-1))).alias("color")
                )
            )
            delta = (
                new_color.join(
                    color.select("vid", F.col("color").alias("oc")), "vid"
                )
                .filter("color != oc")
                .limit(1)
                .count()
            )
            color.unpersist()
            color = new_color
            if delta == 0:
                color_done = True
                break

        if not color_done:
            color.unpersist()
            break

        # 3. CAPTURE: backward BFS from every root inside its color class.
        # member(vid, root): vid is in the SCC of `root`.
        roots = color.filter("vid = color").select(F.col("vid").alias("root"))
        member = _ckpt(roots.select(F.col("root").alias("vid"), "root"))
        # same-color edge list, reversed (we walk towards the root's
        # predecessors), built once per outer round
        ce = _ckpt(
            live_e.join(color.select(F.col("vid").alias("src"), F.col("color").alias("cs")), "src")
            .join(color.select(F.col("vid").alias("dst"), F.col("color").alias("cd")), "dst")
            .filter("cs = cd")
            .select(F.col("dst").alias("u"), F.col("src").alias("v"), F.col("cs").alias("color"))
        )
        frontier = member
        capture_done = False
        for _ in range(max_inner):
            step = (
                ce.join(frontier.select(F.col("vid").alias("u"), "root"), "u")
                .filter(F.col("color") == F.col("root"))
                .select(F.col("v").alias("vid"), "root")
                .distinct()
                .join(member, ["vid", "root"], "anti")
            )
            step = _ckpt(step)
            if step.limit(1).count() == 0:
                capture_done = True
                step.unpersist()
                break
            prev_m, prev_f = member, frontier
            member = _ckpt(member.unionByName(step))
            frontier = step
            prev_m.unpersist()
            if prev_f is not prev_m:
                prev_f.unpersist()

        if not capture_done:
            member.unpersist(); ce.unpersist(); color.unpersist()
            break

        # canonical label = min vid of the component (root vid is the MAX
        # by construction of the coloring)
        scc_labels = member.groupBy("root").agg(F.min("vid").alias("label")).join(
            member, "root"
        ).select("vid", "label")
        add(scc_labels)
        captured = member.select("vid")
        new_v = _ckpt(live_v.join(captured, "vid", "anti"))
        new_e = _ckpt(
            live_e.join(new_v.select(F.col("vid").alias("src")), "src", "semi")
            .join(new_v.select(F.col("vid").alias("dst")), "dst", "semi")
        )
        live_v.unpersist(); live_e.unpersist()
        member.unpersist(); ce.unpersist(); color.unpersist()
        live_v, live_e = new_v, new_e

    out = assigned if assigned is not None else verts.select(
        "vid", F.col("vid").alias("label")
    ).limit(0)
    live_v.unpersist()
    live_e.unpersist()
    return SCCResult(out, outer, converged)
