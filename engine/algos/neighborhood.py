"""Approximate neighborhood function via per-vertex HyperLogLog balls —
HyperBall (Boldi & Vigna, "In-Core Computation of Geometric Centralities
with HyperBall", 2013; ancestry: Palmer/Gibbons/Faloutsos ANF, KDD'02 —
public knowledge). Answers, at link-graph scale, "how many vertices are
within t hops of v?" for every v and every t simultaneously — the basis
for distance distributions, effective diameter, and closeness/harmonic
centralities that no exact method touches at 10^9 vertices (exact
all-pairs BFS is O(V·E)).

Each vertex carries an HLL counter of the vertices in its distance-t ball:
ball_0(v) = {v}; ball_{t+1}(v) = ball_t(v) ∪ ⋃_{v->w} ball_t(w). HLL
counters make the union a per-register max, so one round is: join the
O(E) edge table with the O(V) register table, elementwise-max the
m=2**p registers per vertex, re-estimate. Register sums are integer and
monotone non-decreasing, so the fixpoint test is exact (sum unchanged ==
every register unchanged) and the loop terminates in <= diameter rounds.

Everything stays JVM-side whole-stage codegen — no Python in the loop:

  - single-element counters from xxhash64(vid): bucket = low p bits,
    rank = 1 + leading-zeros of the remaining 64-p bits, computed EXACTLY
    as (64-p) - length(bin(w)) + 1 (``bin`` drops leading zeros, so
    length(bin(w)) is floor(log2 w)+1 with no float rounding);
  - registers are array<tinyint>(m) (rank <= 64-p+1 < 128), the merge is
    m max() aggregate expressions — partial-aggregable, so map-side
    combine shrinks the shuffle to one row per (vertex, partition);
  - estimation is the standard HLL formula (alpha_m * m^2 / sum 2^-reg)
    with the linear-counting small-range correction, as two array folds.

State is O(V*m) bytes (m=64 default: 64 B/vertex + array overhead — 10^9
vertices ~ tens of GiB across a cluster, the regime HyperBall was built
for). Relative error ~ 1.04/sqrt(m) (13% at m=64; raise p for tighter).

Oracle: exact per-vertex BFS ball sizes (networkx) within HLL tolerance,
plus exact convergence/monotonicity properties (tests/test_neighborhood.py).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf

_INFER_FILTERS_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints"
)


@contextmanager
def _no_inferred_filters(spark: SparkSession):
    """Exclude InferFiltersFromConstraints while the HyperBall loop runs.

    The localCheckpoint'ed register state carries its origin constraint
    (regs <=> transform(..., xxhash64(vid))); joining that state on an
    alias of vid lets the rule re-infer the whole init expression as a
    filter UNDER the join with the join-equivalent attribute substituted
    in — an attribute that does not exist below the join, so task
    execution dies with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (observed on
    Spark 4.1; plan shape (5) Filter[transform(... dst#1L ...)] over the
    state scan). The inferred filter is also pure overhead here — it
    re-evaluates a 2^p-element array build per row to assert a tautology.
    Scoped + restored, same discipline as iterative_conf."""
    conf = spark.conf
    key = "spark.sql.optimizer.excludedRules"
    saved = conf.get(key, None)
    parts = [r for r in (saved or "").split(",") if r]
    if _INFER_FILTERS_RULE not in parts:
        parts.append(_INFER_FILTERS_RULE)
    conf.set(key, ",".join(parts))
    try:
        yield
    finally:
        if saved is None:
            conf.unset(key)
        else:
            conf.set(key, saved)


def _alpha(m: int) -> float:
    # Flajolet et al. 2007 bias-correction constants.
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


@dataclass
class NeighborhoodResult:
    balls: DataFrame        # (vid, ball_size[, harmonic]) at t_final
    history: list[float]    # N(t) = sum_v |ball(v, t)| for t = 0, 1, ...
    iterations: int
    converged: bool

    def effective_diameter(self, fraction: float = 0.9) -> float:
        """Smallest t (linearly interpolated) with N(t) >= fraction * N(inf).

        Standard ANF/HyperBall readout; requires a converged run (N(inf) =
        the last history point)."""
        target = fraction * self.history[-1]
        for t, n in enumerate(self.history):
            if n >= target:
                if t == 0:
                    return 0.0
                prev = self.history[t - 1]
                return t - 1 + (target - prev) / (n - prev)
        return float(len(self.history) - 1)


def _estimate(regs: Column, m: int) -> Column:
    """HLL estimate with linear-counting small-range correction."""
    raw = F.lit(_alpha(m) * m * m) / F.aggregate(
        regs, F.lit(0.0), lambda acc, r: acc + F.pow(F.lit(2.0), -r)
    )
    zeros = F.size(F.filter(regs, lambda r: r == 0))
    return F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)


def neighborhood_function(
    spark: SparkSession,
    edges: DataFrame,
    p: int = 6,
    max_iter: int = 64,
    undirected: bool = False,
    harmonic: bool = False,
) -> NeighborhoodResult:
    """HyperBall over the (src, dst) edge table.

    Ball growth follows OUT-edges (ball(v) absorbs successors' balls);
    pass ``undirected=True`` to symmetrize first. ``p``: HLL precision,
    m = 2**p registers per vertex.

    ``harmonic=True`` additionally estimates per-vertex harmonic
    centrality h(v) = sum_{u reachable from v} 1/d(v, u) — the HyperBall
    paper's headline readout: the number of vertices at distance exactly
    t is |ball(v,t)| - |ball(v,t-1)|, so h accumulates delta/t per round
    (one extra co-partitioned join per round; estimate deltas clamp at 0
    so HLL jitter never contributes negative mass)."""
    if not 4 <= p <= 12:
        raise ValueError(f"p must be in [4, 12], got {p}")
    # NOT scale-adapted (loopstate.loop_shuffle_partitions): the register
    # merge is the rare loop whose per-task state is wide (m-byte arrays
    # per key) — halving the partition count doubles the per-task hash-agg
    # footprint, and the A/B at bench scale measured the adapted loop
    # SLOWER (38-46 s vs 33.5 s, bench_extra r6); the session's 2x-cores
    # value stands here.
    with iterative_conf(spark), _no_inferred_filters(spark):
        return _hyperball_loop(spark, edges, p, max_iter, undirected, harmonic)


def _hyperball_loop(spark, edges, p, max_iter, undirected, harmonic=False):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    m = 1 << p
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if undirected:
        e = e.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.distinct()
    verts = (
        e.select(F.col("src").alias("vid"))
        .unionByName(e.select(F.col("dst").alias("vid")))
        .distinct()
        .repartition(P, "vid")
        .localCheckpoint(eager=True)
    )
    # ball_{t+1}(v) = ball_t(v) ∪ successors' balls: the self-inclusion is
    # an identity loop per vertex, folded INTO the edge table — one join +
    # one aggregate per round, no union of the state with itself. The table
    # is keyed-and-partitioned once by dst (the counter being pulled),
    # like pagerank's norm table.
    e = (
        e.unionByName(
            verts.select(F.col("vid").alias("src"), F.col("vid").alias("dst"))
        )
        .repartition(P, "dst")
        .localCheckpoint(eager=True)
    )
    # Singleton HLL counter per vertex, all in exact integer arithmetic.
    h = F.xxhash64(F.col("vid"))
    bucket = F.pmod(h, F.lit(m))
    w = F.shiftrightunsigned(h, p)
    rank = F.when(w == 0, F.lit(64 - p + 1)).otherwise(
        F.lit(64 - p) - F.length(F.bin(w)) + F.lit(1)
    )
    regs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.when(i == bucket, rank).otherwise(F.lit(0)).cast("tinyint"),
    )
    def observed_ckpt(df, sum_expr, est_expr) -> tuple[DataFrame, int, float]:
        # exact register checksum + N(t) estimate ride the state
        # materialization via Observation — no separate O(V*m) scan/round
        obs = Observation()
        out = df.observe(
            obs, F.sum(sum_expr).alias("s"), F.sum(est_expr).alias("n")
        ).localCheckpoint(eager=True)
        vals = obs.get
        return out, int(vals["s"]), float(vals["n"])

    state, prev_sum, n0 = observed_ckpt(
        verts.select("vid", regs.alias("regs")),
        F.aggregate("regs", F.lit(0), lambda a, r: a + r),
        _estimate(F.col("regs"), m),
    )
    verts.unpersist()  # only needed to build e and the initial state
    history = [n0]
    acc = None
    if harmonic:
        acc = state.select(
            "vid",
            _estimate(F.col("regs"), m).alias("est"),
            F.lit(0.0).alias("harm"),
        ).localCheckpoint(eager=True)
    converged = False
    it = 0
    merge = [
        F.max(F.col("regs").getItem(j)).alias(f"r{j}") for j in range(m)
    ]
    # Per-round stats computed COLUMN-WISE on the merge aggregate's
    # r0..r{m-1} columns (whole-stage codegen) instead of higher-order
    # array folds, which Spark evaluates interpreted per element — the
    # accumulation keeps the folds' left-to-right order, so the observed
    # values are bit-identical to the r5 shape's.
    # Terms are pre-cast so the long +-chains resolve in one analyzer
    # pass (mixed-type chains cost one type-coercion fixpoint iteration
    # per nesting level and blow the resolution cap at m=256).
    col_sum = F.lit(0)
    pow_sum = F.lit(0.0)
    zeros_cnt = F.lit(0)
    for j in range(m):
        rj = F.col(f"r{j}")
        col_sum = col_sum + rj.cast("int")
        pow_sum = pow_sum + F.pow(F.lit(2.0), (-rj).cast("double"))
        zeros_cnt = zeros_cnt + F.when(rj == 0, 1).otherwise(0)
    raw_c = F.lit(_alpha(m) * m * m) / pow_sum
    est_cols = F.when(
        (raw_c <= F.lit(2.5 * m)) & (zeros_cnt > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros_cnt),
    ).otherwise(raw_c)
    regs_arr = F.array(*[f"r{j}" for j in range(m)]).alias("regs")
    for it in range(1, max_iter + 1):
        # counters pulled across edges (incl. the identity loop = own
        # counter), merged by per-register max — partial-aggregable
        obs = Observation()
        new_state = (
            e.join(state.select(F.col("vid").alias("dst"), "regs"), "dst")
            .groupBy(F.col("src").alias("vid"))
            .agg(*merge)
            .observe(obs, F.sum(col_sum).alias("s"), F.sum(est_cols).alias("n"))
            .select("vid", regs_arr)
            .localCheckpoint(eager=True)
        )
        vals = obs.get
        s, nt = int(vals["s"]), float(vals["n"])
        history.append(nt)
        if harmonic:
            # vertices at distance exactly `it`: the ball's growth this
            # round; both sides hash(vid)-partitioned -> no exchange
            new_acc = (
                new_state.select("vid", _estimate(F.col("regs"), m).alias("e2"))
                .join(acc, "vid")
                .select(
                    "vid",
                    F.col("e2").alias("est"),
                    (
                        F.col("harm")
                        + F.greatest(F.col("e2") - F.col("est"), F.lit(0.0))
                        / F.lit(float(it))
                    ).alias("harm"),
                )
                .localCheckpoint(eager=True)
            )
            acc.unpersist()
            acc = new_acc
        old, state = state, new_state
        old.unpersist()
        if s == prev_sum:
            converged = True
            break
        prev_sum = s

    balls = state.select("vid", _estimate(F.col("regs"), m).alias("ball_size"))
    if harmonic:
        balls = balls.join(acc.select("vid", F.col("harm").alias("harmonic")), "vid")
    e.unpersist()
    return NeighborhoodResult(balls, history, it, converged)
