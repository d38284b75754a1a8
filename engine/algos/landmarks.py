"""ALT landmark distance oracle — precomputed landmark distances +
triangle-inequality bounds for arbitrary point-to-point queries.

Goldberg & Harrelson 2005 ("Computing the shortest path: A* search meets
graph theory" — the ALT family; public knowledge): pick k landmarks,
precompute exact distances from each landmark (forward) and to each
landmark (backward = forward on the reversed graph), then answer any
(s, t) distance query with

    lower(s, t) = max_L max( d(L,t) - d(L,s),  d(s,L) - d(t,L) )
    upper(s, t) = min_L ( d(s,L) + d(L,t) )

— both sides of the directed triangle inequality. At web scale this is
the standard distance-oracle trade: O(k·V) precomputed state answers any
query with a k-row lookup, no per-query traversal.

Spark shape:

- The precompute is ONE synchronous Bellman–Ford loop over the composite
  state (lid, vid, dist) — all k landmarks relax together (the same
  shared-pivot discipline as betweenness/closeness), so the loop costs
  the SAME number of rounds as one SSSP and each round is one join +
  one partial-aggregable min per key. State is O(k·V), explicitly the
  budget knob (k defaults to 8).
- Landmark selection: highest out-degree vertices (hubs lie on many
  shortest paths — the standard degree heuristic) or the caller's list.
  Selection is one partial-agg count + TakeOrderedAndProject top-k.
- Queries: the (s, t) pair table joins the forward table twice and the
  backward table twice, all keyed by (lid, vid); per-pair bounds are one
  groupBy over the <= k joined rows. Unreachable (landmark, vertex)
  combinations are simply absent rows — bounds aggregate over the
  available combinations and are null when none constrain.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf


@dataclass(frozen=True)
class DistanceOracle:
    """fwd/bwd: (lid, vid, dist) exact distances from / to landmark
    ``lid`` (lid = the landmark's vid). Both converged Bellman–Ford
    fixpoints; ``converged`` False means max_iter truncated the loop and
    the tables are NOT valid bounds — callers must treat that as an
    error (estimate_distance raises). Both tables are eager
    localCheckpoints and CALLER-OWNED: unpersist them when the oracle is
    retired (bench.py does)."""

    fwd: DataFrame
    bwd: DataFrame
    landmarks: tuple[int, ...]
    iterations: int
    converged: bool


def pick_landmarks_by_degree(edges: DataFrame, k: int) -> list[int]:
    """Top-k out-degree vertices (ties by vid for determinism)."""
    rows = (
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.col("d").desc(), F.col("src").asc())
        .limit(k)
        .collect()
    )
    return [r.src for r in rows]


def _multi_sssp(spark, e, seeds, max_iter):
    """(lid, vid, dist) Bellman–Ford fixpoint for every landmark at once;
    one relax join + one (lid, dst) min per round, scalar-only driver
    traffic. ``e`` is pre-cleaned (src, dst, w) — it is re-clustered by
    the relax key ONCE here, so per-round joins never move the O(E) side.

    Each round relaxes only the FRONTIER (rows whose dist improved last
    round): for synchronous Bellman–Ford a vertex improved at round r-2
    already offered dist+w at round r-1, so re-offering it cannot improve
    anything — round count and fixpoint are identical to the dense form,
    while the relax join shrinks to the rows still moving. The improved
    count is observed on the state materialization itself (no separate
    convergence job per round)."""
    from pyspark.sql import Observation

    from engine.algos.loopstate import set_loop_partitions

    # Scale-adaptive loop partitioning; both callers pass a materialized
    # checkpoint, so the count is a cached scan, and both call from inside
    # iterative_conf (which restores the session value on exit).
    P = set_loop_partitions(spark, e.count(), row_bytes=32)
    e = e.repartition(P, "src").localCheckpoint(eager=True)
    state = (
        seeds.select(
            "lid", F.col("lid").alias("vid"), F.lit(0.0).alias("dist"),
            F.lit(True).alias("imp"),
        )
        .repartition(P, "lid", "vid")
        .localCheckpoint(eager=True)
    )
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        relaxed = (
            e.join(
                state.filter("imp").select(
                    "lid", F.col("vid").alias("src"), "dist"
                ),
                "src",
            )
            .select(
                "lid", F.col("dst").alias("vid"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            .groupBy("lid", "vid")
            .agg(F.min("cand").alias("cand"))
        )
        obs = Observation()
        merged = (
            state.drop("imp").join(relaxed, ["lid", "vid"], "full")
            .select(
                "lid", "vid",
                F.least(
                    F.coalesce("dist", F.lit(float("inf"))),
                    F.coalesce("cand", F.lit(float("inf"))),
                ).alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.coalesce("cand", F.lit(float("inf"))) < F.col("dist"))
                ).alias("imp"),
            )
            .observe(
                obs,
                F.sum(F.when(F.col("imp"), 1).otherwise(0)).alias("changed"),
            )
        )
        new_state = merged.localCheckpoint(eager=True)
        changed = int(obs.get["changed"] or 0)
        old, state = state, new_state
        old.unpersist()
        if changed == 0:
            converged = True
            break
    e.unpersist()
    dist = state.drop("imp")
    return dist, it, converged


def build_distance_oracle(
    spark: SparkSession,
    edges: DataFrame,
    landmarks: list[int] | None = None,
    n_landmarks: int = 8,
    weighted: bool = True,
    max_iter: int = 100,
) -> DistanceOracle:
    """Precompute the ALT tables. ``landmarks``: explicit vids, or None to
    pick ``n_landmarks`` by out-degree. Weights must be non-null and
    non-negative (same contract as engine/algos/sssp.py)."""
    w = F.col("weight").cast("double") if weighted else F.lit(1.0)
    e = (
        edges.select("src", "dst", w.alias("w"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    try:
        if e.filter(F.col("w").isNull() | (F.col("w") < 0)).limit(1).count():
            raise ValueError(
                "build_distance_oracle requires non-null, non-negative "
                "weights (a NULL weight would silently never relax)"
            )
        if landmarks is None:
            landmarks = pick_landmarks_by_degree(e, n_landmarks)
        if not landmarks:
            raise ValueError("build_distance_oracle: no landmarks")
        seeds = spark.createDataFrame([(int(v),) for v in landmarks], "lid long")
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        with iterative_conf(spark):
            fwd, it_f, conv_f = _multi_sssp(spark, e, seeds, max_iter)
            bwd, it_b, conv_b = _multi_sssp(spark, rev, seeds, max_iter)
    finally:
        e.unpersist()
    return DistanceOracle(
        fwd=fwd, bwd=bwd, landmarks=tuple(int(v) for v in landmarks),
        iterations=max(it_f, it_b), converged=conv_f and conv_b,
    )


def estimate_distance(oracle: DistanceOracle, pairs: DataFrame) -> DataFrame:
    """(src, dst, lower, upper) bounds for each query pair.

    lower = max over landmarks of both directed triangle differences
    (null when no landmark reaches/is-reached-by both endpoints on the
    relevant side); upper = min over landmarks of d(s,L) + d(L,t) (null
    when no landmark lies on any s->t route). Exact distances collapse
    the interval: if L == s or L == t, lower == upper == d(s,t)."""
    if not oracle.converged:
        raise ValueError(
            "estimate_distance: the oracle's Bellman–Ford loop was "
            "truncated at max_iter — its tables are not valid bounds; "
            "rebuild with a higher max_iter"
        )
    p = pairs.select(F.col("src").alias("qs"), F.col("dst").alias("qt"))
    fwd_s = oracle.fwd.select("lid", F.col("vid").alias("qs"), F.col("dist").alias("f_s"))
    fwd_t = oracle.fwd.select("lid", F.col("vid").alias("qt"), F.col("dist").alias("f_t"))
    bwd_s = oracle.bwd.select("lid", F.col("vid").alias("qs"), F.col("dist").alias("b_s"))
    bwd_t = oracle.bwd.select("lid", F.col("vid").alias("qt"), F.col("dist").alias("b_t"))
    lids = pairs.sparkSession.createDataFrame(
        [(int(v),) for v in oracle.landmarks], "lid long"
    )
    per_l = (
        p.crossJoin(F.broadcast(lids))
        .join(fwd_s, ["lid", "qs"], "left")
        .join(fwd_t, ["lid", "qt"], "left")
        .join(bwd_s, ["lid", "qs"], "left")
        .join(bwd_t, ["lid", "qt"], "left")
    )
    lo_fwd = F.col("f_t") - F.col("f_s")   # d(L,t) - d(L,s), needs both
    lo_bwd = F.col("b_s") - F.col("b_t")   # d(s,L) - d(t,L), needs both
    up = F.col("b_s") + F.col("f_t")       # d(s,L) + d(L,t), needs both
    return (
        per_l.groupBy("qs", "qt")
        .agg(
            F.greatest(
                F.coalesce(F.max(lo_fwd), F.lit(0.0)),
                F.coalesce(F.max(lo_bwd), F.lit(0.0)),
            ).alias("lower"),
            F.min(up).alias("upper"),
        )
        .select(
            F.col("qs").alias("src"), F.col("qt").alias("dst"),
            "lower", "upper",
        )
    )
