"""Degree-preserving graph rewiring — the configuration-model null model.

Double-edge swaps (Milo et al. 2003, "On the uniform generation of random
graphs with prescribed degree sequences"; the machinery behind
``networkx.double_edge_swap``): pick two edges (u,v), (x,y), replace with
(u,y), (x,v). Every vertex keeps its exact degree, so repeated swaps
sample (approximately uniformly) from the simple graphs with the SAME
degree sequence — the null model every structural statistic is judged
against: normalized rich-club (Colizza 2006 divides phi by this null),
motif significance (Milo 2002 z-scores), clustering excess, assortativity
significance. Without a null model, "824M butterflies" is a number; with
one, it is or is not a finding.

Batch form (nx's loop is one swap at a time — unusable at 10^9 edges):

1. **Pair** every edge with a partner: one hash key per edge per round,
   a window over hash BUCKETS (partitionBy bucket — thousands of rows
   each, fully distributed) pairs adjacent ranks. No global sort, and no
   self-join either: the partner rides in via ``lead()`` over the SAME
   window, so pairing costs exactly one exchange (hash(bucket)) + one
   in-partition sort.
2. **Propose**: each complete pair (u,v),(x,y) proposes (u,y),(x,v) —
   canonicalized a<b on the undirected simple view.
3. **Validate set-wise, then commit or revert per pair**: a proposal
   commits iff neither new edge is a self-loop and BOTH new edges are
   globally unique across (all unswapped edges) ∪ (every proposal's new
   edges) — one groupBy count over that union (the unswapped ∪ paired
   originals multiset IS the round's input edge set, so the union is
   just candidates ∪ e). Conflicting or colliding proposals revert to
   their ORIGINAL two edges, so the graph is a valid simple graph with
   the exact degree sequence after EVERY round (the invariant is
   structural, not statistical, and is tested as such).
4. Repeat ``rounds`` times; each round is ONE Spark action (the state
   checkpoint — attempt/commit tallies ride it via ``observe``), and up
   to E/2 swaps are attempted per round — ``rounds=10`` attempts ~5x
   more swaps than nx's default nswap=1 and is the knob to trade mixing
   quality against wall clock.

Determinism: all pairing keys are ``xxhash64(edge, seed, round)`` — the
same (input, seed) rewires identically at any parallelism, so null-model
experiments are reproducible (tests assert bit-equality under
repartitioning).

``rich_club_normalized`` composes this with engine.graph.rich_club:
phi(k) / phi_null(k), the Colizza normalization — values > 1 mean the
real hubs are MORE interlinked than their degrees force them to be.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from engine.algos.loopstate import fresh_checkpoint, iterative_conf


@dataclass
class RewireResult:
    edges: DataFrame          # (src, dst) canonical a<b simple view
    rounds: int
    swaps_applied: int        # committed pair-swaps across all rounds
    swaps_attempted: int      # complete pairs proposed across all rounds


def double_edge_swap(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 10,
    seed: int = 42,
) -> RewireResult:
    """Degree-preserving randomization of the undirected simple view."""
    if rounds < 1:
        raise ValueError(f"double_edge_swap: rounds must be >= 1, got {rounds}")
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nbuckets = max(2, P * 4)
    e = fresh_checkpoint(
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(P, "a", "b")
    )
    applied = 0
    attempted = 0
    # Scale-adaptive loop partitioning: the in-round exchanges (bucket
    # window, occurrence groupBy, commit join) carry O(E) rows; the count
    # reads the checkpoint just materialized. The PAIRING is bucket- and
    # rank-determined (nbuckets above, from the session value), so the
    # physical partition count never touches which swaps happen.
    with iterative_conf(spark, loop_rows=e.count(), row_bytes=32):
        for r in range(rounds):
            k = F.xxhash64("a", "b", F.lit(seed), F.lit(r))
            keyed = e.select(
                "a", "b", k.alias("k"), F.pmod(k, F.lit(nbuckets)).alias("bkt")
            )
            # Pair adjacent ranks with lead() over the SAME window the rank
            # comes from: one exchange + one sort, no pid self-join. Each
            # even-rank row carries its partner (x,y) — or NULLs when it is
            # the odd last row of its bucket (the unpaired edge). The pair
            # is keyed by its own (u,v) original edge, which is unique
            # across the round's simple-graph input.
            w = Window.partitionBy("bkt").orderBy("k", "a", "b")
            rn = F.row_number().over(w) - F.lit(1)
            prop = (
                keyed.select(
                    F.col("a").alias("u"), F.col("b").alias("v"),
                    F.lead("a").over(w).alias("x"),
                    F.lead("b").over(w).alias("y"),
                    rn.alias("rn"),
                )
                .filter(F.pmod(F.col("rn"), F.lit(2)) == 0)
                .drop("rn")
                .persist()
            )
            # proposed replacement: (u,y), (x,v), canonicalized; self-loop
            # proposals are marked invalid here, uniqueness below.
            cand = prop.filter(F.col("x").isNotNull()).select(
                "u", "v", "x", "y",
                F.least("u", "y").alias("na1"), F.greatest("u", "y").alias("nb1"),
                F.least("x", "v").alias("na2"), F.greatest("x", "v").alias("nb2"),
                ((F.col("u") == F.col("y")) | (F.col("x") == F.col("v")))
                .alias("selfloop"),
            )
            news = cand.select(
                "u", "v", F.col("na1").alias("na"), F.col("nb1").alias("nb")
            ).unionByName(
                cand.select(
                    "u", "v", F.col("na2").alias("na"), F.col("nb2").alias("nb")
                )
            )
            # occurrence count of every candidate edge across everything
            # that could exist after this round: unswapped edges, ALL
            # candidate edges, and ALL paired ORIGINALS (a reverted pair
            # restores its originals, and which pairs revert is decided
            # by this very count — counting originals too makes the rule
            # conservative instead of circular: a candidate that collides
            # with anything restorable reverts). Unswapped ∪ paired
            # originals is exactly the round's input edge multiset, so the
            # union is just candidates ∪ e. count > 1 -> revert.
            occ = (
                news.select("na", "nb")
                .unionByName(e.select(
                    F.col("a").alias("na"), F.col("b").alias("nb")))
                .groupBy("na", "nb")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            bad = (
                news.join(occ, ["na", "nb"])
                .filter(F.col("c") > 1)
                .select("u", "v")
                .unionByName(cand.filter("selfloop").select("u", "v"))
                .distinct()
            )
            # ONE join back to the pairs decides commit vs revert; the two
            # output edges per pair are emitted via explode so the commit
            # and revert paths share the join. tag: 1 = committed new edge,
            # 2 = reverted original, 0 = unpaired passthrough — observed on
            # the single materializing action below, replacing the two
            # count() jobs per round of the r5 shape.
            merged = cand.join(
                bad.withColumn("is_bad", F.lit(True)), ["u", "v"], "left"
            ).select(
                F.coalesce(F.col("is_bad"), F.lit(False)).alias("is_bad"),
                F.explode(
                    F.when(
                        F.coalesce(F.col("is_bad"), F.lit(False)),
                        F.array(
                            F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                            F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                        ),
                    ).otherwise(
                        F.array(
                            F.struct(F.col("na1").alias("a"), F.col("nb1").alias("b")),
                            F.struct(F.col("na2").alias("a"), F.col("nb2").alias("b")),
                        )
                    )
                ).alias("ed"),
            ).select(
                F.col("ed.a").alias("a"), F.col("ed.b").alias("b"),
                F.when(F.col("is_bad"), F.lit(2)).otherwise(F.lit(1)).alias("tag"),
            )
            unpaired = prop.filter(F.col("x").isNull()).select(
                "u", "v"
            ).select(
                F.col("u").alias("a"), F.col("v").alias("b"),
                F.lit(0).alias("tag"),
            )
            obs = Observation(f"rewire_{r}")
            staged = (
                merged.unionByName(unpaired)
                .observe(
                    obs,
                    F.sum(F.when(F.col("tag") == 1, 1).otherwise(0)).alias("nc"),
                    F.sum(F.when(F.col("tag") == 2, 1).otherwise(0)).alias("nr"),
                )
                .select("a", "b")
            )
            e_next = fresh_checkpoint(staged)
            vals = obs.get
            n_comm = int(vals["nc"] or 0) // 2
            n_rev = int(vals["nr"] or 0) // 2
            attempted += n_comm + n_rev
            applied += n_comm
            prop.unpersist()
            e.unpersist()
            e = e_next
    return RewireResult(
        edges=e.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        rounds=rounds, swaps_applied=applied, swaps_attempted=attempted,
    )


@dataclass
class MotifZResult:
    observed: float
    null_mean: float
    null_std: float          # sample std (n-1); 0.0 when replicas agree
    zscore: float | None     # None when the null has zero variance
    null_values: list[float]


def motif_zscore(
    spark: SparkSession,
    edges: DataFrame,
    stat_fn,
    replicas: int = 5,
    rounds: int = 10,
    seed: int = 42,
) -> MotifZResult:
    """Milo et al. Science 2002 motif significance: z = (N_real -
    mean(N_null)) / std(N_null), the null being degree-preserving
    rewirings of the SAME graph. ``stat_fn(edges_df) -> number`` is any
    scalar statistic the engine computes (triangle_count, butterflies
    total, transitivity, a motif-query count...). This is what turns a
    raw count into a finding: a clustered graph's triangles sit many
    sigma above its configuration model; a random graph's do not.

    Driver-side loop over ``replicas`` (a scalar count — each statistic
    evaluation and each rewiring is fully distributed); replica i uses
    seed+i, so the whole experiment is reproducible and
    parallelism-invariant. Zero null variance (the statistic is a
    function of the degree sequence alone, e.g. edge count or any
    degree moment) yields zscore=None rather than a division blowup —
    the honest answer is "this statistic cannot be significant under
    this null"."""
    if replicas < 2:
        raise ValueError(f"motif_zscore: replicas must be >= 2, got {replicas}")
    observed = float(stat_fn(edges))
    vals = [
        float(stat_fn(
            double_edge_swap(spark, edges, rounds=rounds, seed=seed + i).edges
        ))
        for i in range(replicas)
    ]
    mean = sum(vals) / len(vals)
    var = sum((v - mean) ** 2 for v in vals) / (len(vals) - 1)
    std = var ** 0.5
    z = (observed - mean) / std if std > 0 else None
    return MotifZResult(
        observed=observed, null_mean=mean, null_std=std,
        zscore=z, null_values=vals,
    )


def rich_club_normalized(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 10,
    seed: int = 42,
) -> DataFrame:
    """(k, phi, phi_null, phi_norm) — Colizza-normalized rich-club: the
    observed coefficient divided by the same statistic on a
    degree-preserving rewiring. phi_norm > 1: hubs interlink beyond what
    their degrees force. The null graph has the IDENTICAL degree
    sequence, so the k range matches row-for-row (N_k is a function of
    degrees alone); phi_null(k) == 0 yields a NULL phi_norm rather than
    a division blowup."""
    from engine.graph import rich_club

    real = rich_club(edges).select("k", "phi", "n_nodes", "n_edges")
    null_e = double_edge_swap(spark, edges, rounds=rounds, seed=seed).edges
    null = rich_club(null_e).select("k", F.col("phi").alias("phi_null"))
    return (
        real.join(null, "k")
        .select(
            "k", "n_nodes", "n_edges", "phi", "phi_null",
            F.when(F.col("phi_null") != 0.0,
                   F.col("phi") / F.col("phi_null")).alias("phi_norm"),
        )
    )
