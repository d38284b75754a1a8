"""k-round neighbor feature propagation (graph feature smoothing).

The parameter-free aggregation half of a GNN pipeline — SGC (Wu et al.
2019, "Simplifying Graph Convolutional Networks") / GraphSAGE-mean
(Hamilton et al. 2017) style, public knowledge: per round every vertex
blends its own feature vector with the mean (or sum) of its neighbors'.
Together with ``neighbor_sample`` (minibatch frontier) and
``embeddings.py`` (DeepWalk vectors) this gives the engine the full
pre-training graph-feature toolchain.

Update rule (mirrored exactly by the test oracle):

    h'(v) = self_weight * h(v) + (1 - self_weight) * AGG_{u in N(v)} h(u)
    h'(v) = h(v)                        when N(v) is empty (mean keeps
                                        the vertex fixed; no NaNs)

Spark shape — one equi-join + one partial-aggregated groupBy per round,
the exact cost profile of one PageRank iteration:

* Features ride as ``array<double>``; the per-dimension neighbor sums
  are ``d`` independent ``sum(x[i])`` aggregates, which Tungsten
  partial-aggregates map-side — the shuffle carries one d-vector per
  (partition, dst), not one per edge. Right for the d <= a few hundred
  of classic node features; at embedding-width d you would switch to
  the posexplode (vid, idx, val) layout so the shuffle key carries the
  dimension (noted, not implemented — same operator contract).
* The loop runs under ``iterative_conf`` (AQE off, broadcast decisions
  explicit) and materializes each round through ``fresh_checkpoint`` —
  the bounded-plan-stats discipline every self-feeding loop here uses.
* ``direction="both"`` unions the two edge orientations BEFORE the
  aggregate: still one shuffle, volume 2|E|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import fresh_checkpoint, iterative_conf


def smooth_features(
    spark: SparkSession,
    edges: DataFrame,
    features: DataFrame,
    rounds: int = 2,
    agg: str = "mean",
    direction: str = "in",
    self_weight: float = 0.5,
    dim: int | None = None,
) -> DataFrame:
    """(vid, x) after ``rounds`` of neighbor aggregation.

    ``features``: (vid, x array<double>), one row per vertex — vertices
    absent from ``features`` contribute nothing and receive nothing
    (join semantics; give every vertex a row, zero-vectors included, if
    you want them smoothed). ``dim`` is inferred from one driver-side
    row when not given.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if agg not in ("mean", "sum"):
        raise ValueError(f"agg must be 'mean' or 'sum', got {agg!r}")
    if direction not in ("in", "out", "both"):
        raise ValueError(f"direction must be in/out/both, got {direction!r}")
    if not 0.0 <= self_weight <= 1.0:
        raise ValueError(f"self_weight must be in [0,1], got {self_weight}")
    if dim is None:
        row = features.select(F.size("x").alias("d")).first()
        if row is None:
            raise ValueError("smooth_features: empty feature table")
        dim = int(row.d)

    if direction == "in":
        msg_edges = edges.select("src", "dst")
    elif direction == "out":
        msg_edges = edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    else:
        msg_edges = edges.select("src", "dst").unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    state = features.select("vid", "x")
    sums = [F.sum(F.col("x")[i]).alias(f"s{i}") for i in range(dim)]
    sw = float(self_weight)
    with iterative_conf(spark):
        msg_edges = fresh_checkpoint(msg_edges)
        state = fresh_checkpoint(state)
        for _ in range(rounds):
            nbr = (
                msg_edges.join(
                    state.withColumnRenamed("vid", "src"), "src"
                )
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.count(F.lit(1)).alias("n"), *sums)
            )
            if agg == "mean":
                nbr_vec = F.array(
                    *[F.col(f"s{i}") / F.col("n") for i in range(dim)]
                )
            else:
                nbr_vec = F.array(*[F.col(f"s{i}") for i in range(dim)])
            nxt = (
                state.join(nbr, "vid", "left")
                .select(
                    "vid",
                    F.when(
                        F.col("n").isNull(), F.col("x")
                    )
                    .otherwise(
                        F.zip_with(
                            "x",
                            nbr_vec.alias("nx"),
                            lambda a, b: F.lit(sw) * a + F.lit(1.0 - sw) * b,
                        )
                    )
                    .alias("x"),
                )
            )
            state = fresh_checkpoint(nxt)
    return state
