"""GraphSAGE-style layered neighbor sampling (Hamilton et al. 2017,
"Inductive Representation Learning on Large Graphs" — public knowledge):
the minibatch subgraph builder for GNN training over the link graph.
From a set of seed vertices, hop h keeps at most ``fanouts[h]`` sampled
out-neighbors of every frontier vertex, per seed — the union of sampled
edges is the computation graph a GNN layer stack consumes.

Scale shape, same discipline as engine/algos/walks.py:

- The adjacency is hash-rank-capped ONCE to a bounded per-vertex pool
  (``pool_cap``, default 4x the largest fanout) and checkpointed — the
  hub-skew guard: a 10^7-degree vertex contributes ``pool_cap`` candidate
  rows per frontier visit, never its full edge list. Per-seed samples are
  then drawn uniformly WITHIN the pool (exactly uniform over all
  neighbors whenever degree <= pool_cap; documented approximation above
  it, the standard practice).
- One Spark job per hop regardless of seed count — state is (seed, vid)
  rows, the per-hop work is one equi-join against the static capped
  adjacency plus one window rank keyed (seed, vid).
- Every choice is a hash of (salt, seed, src, dst, hop): bit-deterministic
  under repartitioning, resume, and cluster resizing — a re-run of a
  failed epoch samples the identical subgraphs (free retry, the same
  contract as engine/sampling.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf
from engine.dedup import _h64


def _rank_hash(salt: str, *cols):
    s = F.concat_ws(
        "\x1f", F.lit(salt), *[F.col(c).cast("string") for c in cols]
    )
    return _h64(s, None, False)


def sample_neighbors(
    edges: DataFrame, fanout: int, salt: str = "nbr"
) -> DataFrame:
    """At most ``fanout`` out-edges per src, hash-ranked — a uniform
    k-of-deg draw per vertex (the hash order is a uniform permutation of
    each vertex's neighbor list), reproducible as a row property. One
    window over the (src)-partitioned edges; ties broken on dst."""
    if fanout < 1:
        raise ValueError(f"fanout must be >= 1, got {fanout}")
    w = Window.partitionBy("src").orderBy(
        _rank_hash(salt, "src", "dst").asc(), F.col("dst").asc()
    )
    return (
        edges.select("src", "dst")
        .distinct()
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= fanout)
        .drop("__r")
    )


def khop_sample(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    fanouts: list[int] = (10, 5),
    salt: str = "sage",
    pool_cap: int | None = None,
) -> DataFrame:
    """(seed, hop, src, dst) — the sampled computation graph: hop h's rows
    are up to ``fanouts[h-1]`` out-edges of every hop-(h-1) frontier
    vertex, sampled independently per seed. ``seeds`` is a (vid)
    DataFrame; a seed's subgraph is the rows with its seed value.

    Frontiers are NOT deduplicated across hops (a vertex reached at hops
    1 and 2 is expanded both times) — GraphSAGE semantics, where each
    layer's aggregation needs its own neighbor draw."""
    fanouts = list(fanouts)
    if not fanouts or any(f < 1 for f in fanouts):
        raise ValueError(f"fanouts must be non-empty positive, got {fanouts}")
    if pool_cap is None:
        pool_cap = 4 * max(fanouts)
    if pool_cap < max(fanouts):
        raise ValueError(
            f"pool_cap {pool_cap} < max fanout {max(fanouts)}: the pool "
            f"must be able to satisfy the largest fanout"
        )
    with iterative_conf(spark):
        return _khop(spark, edges, seeds, fanouts, salt, pool_cap)


def _ckpt(df):
    return df.localCheckpoint(eager=True)


def _khop(spark, edges, seeds, fanouts, salt, pool_cap):
    adj = _ckpt(sample_neighbors(edges, pool_cap, salt=salt + ":pool"))
    frontier = _ckpt(
        seeds.select(F.col("vid").alias("seed"), F.col("vid")).distinct()
    )
    layers: list[DataFrame] = []
    for hop, fanout in enumerate(fanouts, start=1):
        w = Window.partitionBy("seed", "vid").orderBy(
            _rank_hash(f"{salt}:{hop}", "seed", "vid", "dst").asc(),
            F.col("dst").asc(),
        )
        picked = _ckpt(
            frontier.join(adj.withColumnRenamed("src", "vid"), "vid")
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= fanout)
            .select(
                "seed", F.lit(hop).alias("hop"),
                F.col("vid").alias("src"), "dst",
            )
        )
        layers.append(picked)
        prev = frontier
        frontier = _ckpt(
            picked.select("seed", F.col("dst").alias("vid")).distinct()
        )
        prev.unpersist()
    out = layers[0]
    for df in layers[1:]:
        out = out.unionByName(df)
    out = _ckpt(out)
    for df in layers:
        df.unpersist()
    frontier.unpersist()
    adj.unpersist()
    return out
