"""Betweenness centrality from a pivot sample — Brandes' algorithm
(Brandes 2001, "A faster algorithm for betweenness centrality";
pivot-sampling per Brandes & Pich 2007 — public knowledge), run for ALL
pivots simultaneously as one set-oriented computation. Exact betweenness
is O(V·E) and unthinkable at 10^9 vertices; the standard practice is a
pivot sample, and the estimate's error decays as 1/sqrt(#pivots).

Two phases, both driver-controlled DataFrame loops with state keyed
(s, vid) — s the pivot, so one Spark job per BFS layer covers every
pivot's search at once (k pivots multiply the state rows, never the
number of jobs):

  forward  — BFS layers with shortest-path counts: frontier at depth d
             expands along out-edges; a vertex first reached at depth
             d+1 gets sigma = sum of its depth-d predecessors' sigmas
             (anti-join against the settled set = the visited check).
  backward — dependency accumulation by DESCENDING depth: delta(v) +=
             sigma_v/sigma_w * (1 + delta_w) summed over DAG successors
             w at depth+1; after layer d is processed its deltas are
             final. betweenness(v) = sum over pivots s != v of
             delta(s, v).

Oracle: ``networkx.betweenness_centrality_subset(G, sources=pivots,
targets=all, normalized=False)`` — with pivots = all vertices this IS
exact betweenness (tests/test_betweenness.py, exact rationals in double).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf


@dataclass
class BetweennessResult:
    scores: DataFrame  # (vid, betweenness) — vertices with score > 0 or settled
    pivots: int
    max_depth: int


def betweenness(
    spark: SparkSession,
    edges: DataFrame,
    pivots: DataFrame | None = None,
    max_iter: int = 100,
) -> BetweennessResult:
    """Accumulated Brandes dependency over the pivot set (every vertex if
    ``pivots`` is None — exact betweenness, affordable only on small
    graphs; pass a sampled (vid) DataFrame at scale)."""
    # Scale-adaptive loop partitioning (see loopstate.loop_shuffle_partitions).
    with iterative_conf(spark, loop_rows=edges.count(), row_bytes=32):
        return _brandes(spark, edges, pivots, max_iter)


def _ckpt(df):
    return df.localCheckpoint(eager=True)


def _brandes(spark, edges, pivots, max_iter):
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
    piv = pivots.select(F.col("vid").alias("s")).distinct()
    n_piv = piv.count()

    # -------- forward: per-layer checkpoints (the settled set is their
    # LAZY union — the r5 shape re-materialized the whole growing settled
    # state every layer), frontier = last layer; the frontier count rides
    # each layer's own materialization as an Observation.
    layer0 = _ckpt(
        piv.select(
            "s", F.col("s").alias("vid"), F.lit(0).alias("dist"),
            F.lit(1.0).alias("sigma"),
        )
    )
    layers: list[DataFrame] = [layer0]
    settled = layer0
    frontier = layer0
    depth = 0
    exhausted = False
    for depth in range(1, max_iter + 1):
        obs = Observation()
        nxt = _ckpt(
            frontier.join(e.withColumnRenamed("src", "vid"), "vid")
            .groupBy("s", F.col("dst").alias("vid"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(settled.select("s", "vid"), ["s", "vid"], "anti")
            .select("s", "vid", F.lit(depth).alias("dist"), "sigma")
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        if int(obs.get["n"] or 0) == 0:
            nxt.unpersist()
            depth -= 1
            exhausted = True
            break
        layers.append(nxt)
        settled = settled.unionByName(nxt)
        frontier = nxt
    if not exhausted:
        # The loop burned every iteration without the frontier dying. A
        # truncated forward phase means the backward accumulation runs over
        # a partial DAG and returns silently WRONG scores (not partial
        # labels, wrong numbers) — fail loudly, matching k_core's policy
        # (ADVICE r3). One extra probe join distinguishes "cap landed
        # exactly on the last layer" from genuine truncation.
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
            raise ValueError(
                f"betweenness forward BFS did not exhaust within max_iter="
                f"{max_iter} layers; a truncated DAG would yield wrong "
                f"scores — raise max_iter (graph diameter exceeds the cap)"
            )

    # -------- backward: dependency accumulation by DESCENDING depth.
    # Layer-local: depth-d deltas depend only on depth-(d+1) deltas, so
    # each round touches two layers, never the whole (s, vid) state; the
    # finalized layers union at the end.
    done_layers: list[DataFrame] = []
    # Each BFS layer is its own checkpoint, so "the rows at depth d" is a
    # direct reference — no filter scan of the whole settled state.
    above = layers[depth].select("s", "vid", "sigma", F.lit(0.0).alias("delta"))
    done_layers.append(above)
    for d in range(depth - 1, -1, -1):
        layer = layers[d]
        contrib = (
            layer.join(e.withColumnRenamed("src", "vid"), "vid")
            .join(
                above.select(
                    "s", F.col("vid").alias("dst"),
                    F.col("sigma").alias("sigma_w"),
                    F.col("delta").alias("delta_w"),
                ),
                ["s", "dst"],
            )
            .groupBy("s", "vid")
            .agg(
                F.sum(
                    F.col("sigma") / F.col("sigma_w") * (1.0 + F.col("delta_w"))
                ).alias("dd")
            )
        )
        above = _ckpt(
            layer.select("s", "vid", "sigma")
            .join(contrib, ["s", "vid"], "left")
            .select("s", "vid", "sigma", F.coalesce("dd", F.lit(0.0)).alias("delta"))
        )
        done_layers.append(above)

    all_deltas = done_layers[0]
    for df in done_layers[1:]:
        all_deltas = all_deltas.unionByName(df)
    scores = (
        all_deltas.filter(F.col("s") != F.col("vid"))  # endpoints excluded
        .groupBy("vid")
        .agg(F.sum("delta").alias("betweenness"))
    )
    out = _ckpt(
        verts.join(scores, "vid", "left").select(
            "vid", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
        )
    )
    for df in done_layers:
        df.unpersist()
    for df in layers:
        df.unpersist()
    e.unpersist()
    return BetweennessResult(out, n_piv, depth)
