"""Time-respecting (temporal) reachability: earliest-arrival traversal.

A security context graph is temporal — "what could this host reach
AFTER the compromise at t0, following edges whose timestamps never go
backwards?" is the incident-response form of Verum's context query.
Public semantics: earliest-arrival paths in temporal graphs (Wu et al.
VLDB 2014, "Path Problems in Temporal Graphs"): a path is valid when
edge timestamps are non-decreasing (or strictly increasing) along it,
and the earliest arrival at v is the minimum over valid paths of the
last edge's timestamp (+ optional traversal duration).

Spark shape — frontier-filtered label correction, the delta-PageRank
discipline applied to temporal BFS:

* State is (vid, t_arr), earliest known arrival; it only DECREASES, so
  the fixpoint is exact and order-free.
* Each round relaxes ONLY from vertices whose t_arr improved last
  round (a smaller t_arr enables a superset of outgoing edges, so
  improvements are the complete re-relaxation set): one equi-join of
  the frontier against the timestamped edge table, one timestamp
  filter (pushed into the join output — codegen), one partial-agg min
  per dst, one full-outer merge. O(frontier-incident edges) per round,
  never O(E) after the first.
* Parallel edges with many timestamps are kept AS ROWS — which one is
  usable depends on the arrival time, so no (src,dst) pre-reduction is
  valid; the per-dst min happens after the usability filter instead.
* Loop state goes through localCheckpoint with the previous round
  released; runs under ``iterative_conf`` (the repo's loop contract).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf


@dataclass
class TemporalResult:
    arrivals: DataFrame  # (vid, t_arr) — reached vertices only
    iterations: int
    converged: bool  # False => arrivals valid but possibly incomplete


def earliest_arrival(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    ts_col: str = "ts",
    dur_col: str | None = None,
    strict: bool = False,
    max_iter: int = 100,
    horizon: float | None = None,
) -> TemporalResult:
    """Earliest arrival times from ``sources`` over (src, dst, ts[, dur]).

    ``sources``: (vid) with optional ``t0`` column — the time the walk
    may leave that source (missing t0 = may leave at -infinity, i.e.
    every edge out of it is usable). An edge (u, v, ts) is usable when
    ``ts >= t_arr(u)`` (``>`` when ``strict``); arrival at v is
    ``ts + dur`` (dur defaults to 0 — instantaneous edges).
    ``horizon`` drops arrivals beyond a time bound each round, keeping
    local incident-response queries O(neighborhood) on a huge graph.
    """
    # Scale-adaptive loop partitioning (see loopstate.loop_shuffle_partitions).
    with iterative_conf(spark, loop_rows=edges.count(), row_bytes=32):
        return _ea_loop(
            spark, edges, sources, ts_col, dur_col, strict, max_iter, horizon
        )


def _ea_loop(spark, edges, sources, ts_col, dur_col, strict, max_iter, horizon):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    dur = F.col(dur_col).cast("double") if dur_col else F.lit(0.0)
    e = (
        edges.select(
            "src",
            "dst",
            F.col(ts_col).cast("double").alias("ts"),
            (F.col(ts_col).cast("double") + dur).alias("t_in"),
        )
        .filter(F.col("src") != F.col("dst"))
        .repartition(P, "src")
        .localCheckpoint(eager=True)
    )
    bad = (
        e.filter(F.col("ts").isNull() | F.col("t_in").isNull()).limit(1).count()
    )
    if bad:
        e.unpersist()
        raise ValueError(
            "earliest_arrival requires non-null timestamps/durations "
            "(a NULL would silently drop its edge from every path)"
        )
    if "t0" in sources.columns:
        if sources.filter(F.col("t0").isNull()).limit(1).count():
            e.unpersist()
            raise ValueError(
                "earliest_arrival requires non-null t0 in sources (a NULL "
                "t0 would become a spurious +inf arrival, not a source)"
            )
        t0 = F.col("t0").cast("double")
    else:
        t0 = F.lit(float("-inf"))
    arr = (
        sources.select("vid", t0.alias("t_arr"))
        .groupBy("vid")
        .agg(F.min("t_arr").alias("t_arr"))
        .repartition(P, "vid")
        .localCheckpoint(eager=True)
    )
    frontier = arr
    converged = False
    it = 0
    cmp = (F.col("ts") > F.col("t_arr")) if strict else (
        F.col("ts") >= F.col("t_arr")
    )
    for it in range(1, max_iter + 1):
        cand = (
            e.join(
                frontier.select(F.col("vid").alias("src"), "t_arr"), "src"
            )
            .filter(cmp)
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("t_in").alias("cand"))
        )
        if horizon is not None:
            cand = cand.filter(F.col("cand") <= horizon)
        obs = Observation()
        merged = (
            arr.join(cand, "vid", "full")
            .select(
                "vid",
                F.least(
                    F.coalesce("t_arr", F.lit(float("inf"))),
                    F.coalesce("cand", F.lit(float("inf"))),
                ).alias("t_arr"),
                (
                    F.col("t_arr").isNull()
                    | (
                        F.coalesce("cand", F.lit(float("inf")))
                        < F.col("t_arr")
                    )
                ).alias("improved"),
            )
            .observe(
                obs,
                F.sum(F.when(F.col("improved"), 1).otherwise(0)).alias("ch"),
            )
            .localCheckpoint(eager=True)
        )
        new_frontier = merged.filter("improved").select("vid", "t_arr")
        changed = int(obs.get["ch"] or 0)
        old, arr = arr, merged.drop("improved")
        old.unpersist()
        frontier = new_frontier
        if changed == 0:
            converged = True
            break
    e.unpersist()
    return TemporalResult(arr, it, converged)


def temporal_reachable(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    **kwargs,
) -> DataFrame:
    """(vid,) — the time-respecting reachable set (arrivals projection);
    raises if the traversal did not converge within max_iter."""
    res = earliest_arrival(spark, edges, sources, **kwargs)
    if not res.converged:
        raise RuntimeError(
            f"temporal_reachable: not converged after {res.iterations} "
            f"rounds — raise max_iter (longest temporal path exceeds it)"
        )
    return res.arrivals.select("vid")
