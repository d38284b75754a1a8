"""Louvain community detection — modularity-greedy local moving + graph
contraction, rebuilt as synchronous DataFrame rounds.

Blondel, Guillaume, Lambiotte, Lefebvre 2008 ("Fast unfolding of
communities in large networks" — public knowledge). Each level runs LOCAL
MOVING: every vertex scores its neighbor communities with the exact
modularity gain

    score(C) = k_i(C)/m  -  k_i * (Σtot(C) - [C = cur] * k_i) / (2 m²)

(score(B) - score(A) is exactly the Newman ΔQ of moving i from A to B),
and moves to the argmax when the gain clears ``min_gain``. Synchronous
parallel moving can oscillate on symmetric swaps (Lu, Halappanavar &
Kalyanaraman 2015 document exactly this failure; a blind hash-parity gate
demonstrably livelocks on two same-parity vertices chasing each other's
communities), so rounds are MONOTONE-Q GATED: each round applies only the
hash class (xxhash64(vid) mod nclasses) that contains the top-gain mover,
then recomputes exact Q — if Q did not increase the round is REVERTED and
nclasses doubles (finer classes, fewer simultaneous movers); on success
nclasses halves back (floor 2). A class that shrinks to the single top
mover applies exactly its computed ΔQ > min_gain, so progress is always
available and the loop provably terminates with Q nondecreasing.
Convergence is declared on the UNGATED criterion (zero improving moves
exist anywhere), so a converged run is locally optimal by construction. Levels then CONTRACT
communities to super-vertices (intra-weight becomes a self-loop, degrees
and m are invariant — asserted by the phase-invariance test) and repeat;
a final refinement pass re-runs local moving at original-vertex
granularity so the single-vertex local-optimality contract holds on the
INPUT graph, not just the coarsest one.

Scale notes: per round — one edge×label equi-join, two partial-aggregable
groupBys (k_i(C), Σtot), one max-of-struct argmax (lpa.py's trick, no
windows), one scalar count. Community sizes never materialize on the
driver; contraction shrinks the edge table between levels. Loop state is
``fresh_checkpoint``'d and released per round (loopstate.py discipline).

Verum parity: the reference's community toolkit was NetworkX ad hoc
(SURVEY.md Table A C1); this completes the LPA-family (lpa.py) with the
standard modularity-maximizing algorithm. Oracle (tests/test_louvain.py):
exact local-optimality sweep in pure python, phase-invariant Q,
determinism, and Q parity vs networkx's seeded ``louvain_communities``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import fresh_checkpoint, iterative_conf


@dataclass
class LouvainResult:
    labels: DataFrame  # (vid, label) — label = min member vid of the community
    modularity: float
    levels: int
    rounds: int  # total local-moving rounds across levels + refinement
    converged: bool  # True ONLY if every moving phase ended with zero
    #                  improving moves (labels locally optimal). False +
    #                  stalled=True => stopped at the requested
    #                  stall_fraction progress threshold (valid partition,
    #                  Q monotone from init, optimality not guaranteed).
    #                  False + stalled=False => a phase hit max_rounds.
    stalled: bool = False


@dataclass
class _Level:
    pairs: DataFrame  # (a, b, w) a < b, parallel edges summed
    selfw: DataFrame  # (vid, sw) self-loop weight (contraction-created)
    deg: DataFrame  # (vid, k) — k = Σ incident w + 2·sw
    m: float  # total weight — invariant across levels


def _canonical_pairs(edges: DataFrame, weight_col: str) -> DataFrame:
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )


def _level_of(pairs: DataFrame, selfw: DataFrame, vertices: DataFrame) -> _Level:
    spark = pairs.sparkSession
    pairs = fresh_checkpoint(pairs)
    selfw = fresh_checkpoint(selfw)
    inc = pairs.select(F.col("a").alias("vid"), "w").unionByName(
        pairs.select(F.col("b").alias("vid"), "w")
    )
    deg = fresh_checkpoint(
        vertices.select("vid")
        .join(inc.groupBy("vid").agg(F.sum("w").alias("kw")), "vid", "left")
        .join(selfw, "vid", "left")
        .select(
            "vid",
            (
                F.coalesce("kw", F.lit(0.0)) + 2.0 * F.coalesce("sw", F.lit(0.0))
            ).alias("k"),
        )
    )
    m = (
        pairs.agg(F.coalesce(F.sum("w"), F.lit(0.0))).collect()[0][0]
        + selfw.agg(F.coalesce(F.sum("sw"), F.lit(0.0))).collect()[0][0]
    )
    _ = spark  # (kept for symmetry with sibling modules' loop helpers)
    return _Level(pairs=pairs, selfw=selfw, deg=deg, m=float(m))


def _q_of(level: _Level, labels: DataFrame) -> float:
    """Exact weighted Newman Q of ``labels`` on this level's graph — used
    for the result and the phase-invariance test hook."""
    la = labels.select(F.col("vid").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("vid").alias("b"), F.col("label").alias("lb"))
    intra = (
        level.pairs.join(la, "a")
        .join(lb, "b")
        .filter(F.col("la") == F.col("lb"))
        .agg(F.coalesce(F.sum("w"), F.lit(0.0)))
        .collect()[0][0]
    )
    intra += (
        level.selfw.join(labels, "vid")
        .agg(F.coalesce(F.sum("sw"), F.lit(0.0)))
        .collect()[0][0]
    )
    sig = (
        level.deg.join(labels, "vid")
        .groupBy("label")
        .agg(F.sum("k").alias("tot"))
        .agg(F.coalesce(F.sum(F.col("tot") * F.col("tot")), F.lit(0.0)))
        .collect()[0][0]
    )
    m = level.m
    return float(intra / m - sig / (4.0 * m * m))


def _local_moving(
    level: _Level,
    labels: DataFrame,
    min_gain: float,
    max_rounds: int,
    seed: int,
    stall_count: int = 0,
) -> tuple[DataFrame, int, str]:
    """Run monotone-Q gated synchronous moving until no improving move
    EXISTS (the ungated criterion), or — when ``stall_count`` > 0 — until
    at most that many vertices still have an improving move (the Grappolo
    per-phase progress threshold, scaled from ``stall_fraction``). Returns
    (labels, rounds, status) with status in 'optimal' | 'stalled' |
    'capped'."""
    und = level.pairs.select("a", "b", "w").unionByName(
        level.pairs.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "w"
        )
    )
    m = level.m
    labels = fresh_checkpoint(labels)
    cur_q = _q_of(level, labels)
    # Optimistic gate: start by applying EVERY improving mover in one
    # round (nclasses=1). When simultaneous moves cancel (swap livelock)
    # the exact-Q check below catches it, reverts, and doubles the class
    # count until a Q-increasing subset verifies — measured at sf0.1 the
    # full set verifies on most rounds, so the optimistic start roughly
    # halves round count vs opening at nclasses=2.
    nclasses = 1
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        sig = labels.join(level.deg, "vid").groupBy("label").agg(
            F.sum("k").alias("tot")
        )
        # k_i(C): weight from each vertex to each NEIGHBOR community.
        kin = (
            und.join(
                labels.select(F.col("vid").alias("b"), F.col("label").alias("c")),
                "b",
            )
            .groupBy(F.col("a").alias("vid"), "c")
            .agg(F.sum("w").alias("kin"))
        )
        # Ensure the own community is always a candidate (kin may be 0).
        cand = kin.unionByName(
            labels.select("vid", F.col("label").alias("c"), F.lit(0.0).alias("kin"))
        ).groupBy("vid", "c").agg(F.sum("kin").alias("kin"))
        scored = (
            cand.join(labels, "vid")
            .join(level.deg, "vid")
            .join(sig.select(F.col("label").alias("c"), "tot"), "c")
            .select(
                "vid",
                "label",
                "c",
                (
                    F.col("kin") / m
                    - F.col("k")
                    * (
                        F.col("tot")
                        - F.when(F.col("c") == F.col("label"), F.col("k")).otherwise(
                            0.0
                        )
                    )
                    / (2.0 * m * m)
                ).alias("score"),
            )
        )
        # argmax (score, then smallest community id) + the stay score, in
        # one partial-aggregable pass (lpa.py's max-of-struct trick).
        best = scored.groupBy("vid").agg(
            F.max(F.struct(F.col("score"), (-F.col("c")).alias("nc"))).alias("b"),
            F.max(
                F.when(
                    F.col("c") == F.col("label"),
                    F.struct(F.col("score"), (-F.col("c")).alias("nc")),
                )
            ).alias("own"),
            F.first("label").alias("label"),
        ).select(
            "vid",
            "label",
            (-F.col("b.nc")).alias("target"),
            (F.col("b.score") - F.col("own.score")).alias("gain"),
        )
        improving = fresh_checkpoint(
            best.filter(
                (F.col("target") != F.col("label")) & (F.col("gain") > min_gain)
            ).select("vid", "target", "gain")
        )
        # The gated class is the one holding the TOP-GAIN mover (ties to
        # the smallest vid) — never a wasted round on an empty class, and
        # at singleton granularity the applied gain is exact.
        cls = F.pmod(F.xxhash64("vid", F.lit(seed)), F.lit(nclasses))
        agg_row = improving.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(
                F.struct(
                    F.col("gain"), (-F.col("vid")).alias("nv"), cls.alias("cls")
                )
            ).alias("t"),
        ).collect()[0]
        top = agg_row["t"]
        if top is None:
            improving.unpersist()
            return labels, rounds, "optimal"
        if stall_count and int(agg_row["n"]) <= stall_count:
            improving.unpersist()
            return labels, rounds, "stalled"
        moved = improving.filter(cls == F.lit(top["cls"])).select("vid", "target")
        cand_labels = fresh_checkpoint(
            labels.join(moved, "vid", "left").select(
                "vid", F.coalesce("target", "label").alias("label")
            )
        )
        improving.unpersist()
        new_q = _q_of(level, cand_labels)
        if new_q > cur_q:
            labels.unpersist()
            labels, cur_q = cand_labels, new_q
            nclasses = max(1, nclasses // 2)
        else:
            # Simultaneous same-class moves cancelled out (swap livelock) —
            # revert and gate finer. Doubling is bounded: once the class
            # isolates the top mover, its exact ΔQ > min_gain accepts.
            cand_labels.unpersist()
            nclasses *= 2
            if nclasses > 1 << 34:
                raise RuntimeError(
                    "louvain local moving: no Q-increasing move set found "
                    "even at singleton gate granularity — xxhash64 class "
                    "collision on the top mover (astronomically unlikely) "
                    "or a gain-formula violation; refusing to livelock"
                )
    return labels, rounds, "capped"


def louvain(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    weight_col: str = "weight",
    min_gain: float = 1e-9,
    max_rounds: int = 100,
    max_levels: int = 10,
    seed: int = 29,
    initial_labels: DataFrame | None = None,
    stall_fraction: float = 0.0,
) -> LouvainResult:
    """Community assignment maximizing weighted Newman modularity over the
    undirected view of ``edges`` (self-loops dropped, parallel edges
    summed). Deterministic: fixed hash gating, lexicographic tie-breaks.

    ``stall_fraction`` (default 0 = exact) ends each moving phase once
    the number of vertices that still have an improving move drops to
    <= stall_fraction * |V_level| — the per-phase progress threshold every
    production parallel Louvain ships (Grappolo's threshold heuristic):
    the convergence TAIL is where a handful of vertices trade tiny gains
    for hundreds of O(E) rounds. The result is then flagged
    ``stalled=True, converged=False``; Q is still monotone from the init.

    ``initial_labels`` (vid, label) warm-starts level-1 local moving from
    an existing partition instead of singletons — the incremental path
    (pagerank's ``initial_ranks`` sibling): feeding back a converged
    partition of the same graph is a fixpoint (returns identical labels
    in one no-move round, tested), and a partition of yesterday's graph
    re-converges in a few rounds after an edge fold. Vertices missing
    from ``initial_labels`` start as singletons."""
    with iterative_conf(spark):
        return _louvain(
            spark, edges, vertices, weight_col, min_gain, max_rounds,
            max_levels, seed, initial_labels, stall_fraction,
        )


def _louvain(spark, edges, vertices, weight_col, min_gain, max_rounds,
             max_levels, seed, initial_labels=None, stall_fraction=0.0):
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vid"))
            .unionByName(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    vids = fresh_checkpoint(vertices.select("vid"))

    pairs0 = _canonical_pairs(edges, weight_col)
    selfw0 = spark.createDataFrame([], "vid long, sw double")
    level = _level_of(pairs0, selfw0, vids)
    base = level
    if level.m <= 0.0:
        # No (non-self-loop) edges: Q is identically 0 for every partition;
        # singletons are the canonical locally-optimal answer.
        return LouvainResult(
            labels=vids.select("vid", F.col("vid").alias("label")),
            modularity=0.0,
            levels=0,
            rounds=0,
            converged=True,
        )

    # mapping: original vid -> current-level community (a current-level vid)
    mapping = fresh_checkpoint(vids.select("vid", F.col("vid").alias("label")))
    total_rounds = 0
    converged = True
    stalled = False
    levels = 0
    n_comm = None
    for levels in range(1, max_levels + 1):
        stall_count = (
            int(stall_fraction * level.deg.count()) if stall_fraction else 0
        )
        if levels == 1 and initial_labels is not None:
            init = (
                level.deg.select("vid")
                .join(initial_labels.select("vid", "label"), "vid", "left")
                .select(
                    "vid", F.coalesce("label", F.col("vid")).alias("label")
                )
            )
        else:
            init = level.deg.select("vid", F.col("vid").alias("label"))
        lab, r, status = _local_moving(
            level, init, min_gain, max_rounds, seed, stall_count
        )
        total_rounds += r
        converged = converged and status == "optimal"
        stalled = stalled or status == "stalled"
        ok = status != "capped"
        new_mapping = fresh_checkpoint(
            mapping.join(
                lab.select(F.col("vid").alias("label"), F.col("label").alias("nl")),
                "label",
            ).select("vid", F.col("nl").alias("label"))
        )
        mapping.unpersist()
        mapping = new_mapping
        prev_n = n_comm
        n_comm = lab.select("label").distinct().count()
        if (prev_n is not None and n_comm >= prev_n) or not ok:
            lab.unpersist()
            break
        # Contract: communities -> super-vertices; intra weight (+ carried
        # self-loops) -> self-loops. Degrees and m are level-invariant.
        la = lab.select(F.col("vid").alias("a"), F.col("label").alias("la"))
        lb = lab.select(F.col("vid").alias("b"), F.col("label").alias("lb"))
        tagged = level.pairs.join(la, "a").join(lb, "b")
        new_pairs = (
            tagged.filter(F.col("la") != F.col("lb"))
            .select(
                F.least("la", "lb").alias("a"),
                F.greatest("la", "lb").alias("b"),
                "w",
            )
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
        )
        intra = tagged.filter(F.col("la") == F.col("lb")).select(
            F.col("la").alias("vid"), "w"
        )
        carried = level.selfw.join(lab, "vid").select(
            F.col("label").alias("vid"), F.col("sw").alias("w")
        )
        new_selfw = (
            intra.unionByName(carried).groupBy("vid").agg(F.sum("w").alias("sw"))
        )
        new_verts = lab.select(F.col("label").alias("vid")).distinct()
        lab.unpersist()
        nxt = _level_of(new_pairs, new_selfw, new_verts)
        if level is not base:
            level.pairs.unpersist()
            level.selfw.unpersist()
            level.deg.unpersist()
        level = nxt

    # Refinement at ORIGINAL granularity: guarantees single-vertex local
    # optimality on the input graph (Louvain alone only guarantees it on
    # the coarsest level).
    final, r, status = _local_moving(
        base, mapping, min_gain, max_rounds, seed,
        int(stall_fraction * base.deg.count()) if stall_fraction else 0,
    )
    total_rounds += r
    converged = converged and status == "optimal"
    stalled = stalled or status == "stalled"
    q = _q_of(base, final)

    # Canonical community ids: min member vid (the cc.py labeling contract).
    rep = final.groupBy("label").agg(F.min("vid").alias("rep"))
    labels = fresh_checkpoint(
        final.join(rep, "label").select("vid", F.col("rep").alias("label"))
    )
    final.unpersist()
    mapping.unpersist()
    vids.unpersist()
    if level is not base:
        level.pairs.unpersist()
        level.selfw.unpersist()
        level.deg.unpersist()
    base.pairs.unpersist()
    base.selfw.unpersist()
    base.deg.unpersist()
    return LouvainResult(
        labels=labels,
        modularity=q,
        levels=levels,
        rounds=total_rounds,
        converged=converged,
        stalled=stalled,
    )
