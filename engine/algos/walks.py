"""Deterministic random-walk corpus generation — the bridge from the link
graph to embedding training (DeepWalk, Perozzi et al. KDD'14; node2vec,
Grover & Leskovec KDD'16 — public knowledge): a 10^9-vertex graph becomes
a corpus of vertex "sentences" that a skip-gram trainer consumes. At
training-data scale the walk generator IS the pipeline bottleneck, so it
must be set-oriented: one DataFrame row per walk, one join per step,
never a per-vertex Python loop.

Pseudo-randomness is **hash-derived, not sampled**: step t of walk w
picks out-neighbor index xxhash64(walk_id, t, seed) mod out-degree from
the vertex's deterministic (sorted) adjacency ranking. Same inputs →
bit-identical corpus on any cluster size or partitioning — the property
that makes a 100-TB walk job retryable/resumable for free (a re-run of a
lost partition regenerates exactly the same walks; no RNG state to ship).
For unbiased sampling the hash acts as a fixed universal hash of the
(walk, step) pair — statistically uniform across neighbors, and any
walk-level bias is the same one a seeded Mersenne run would bake in.

Per step: state (walk_id, cur, path) joins degree-ranked adjacency on
(cur, pick) — both tables hash-partitioned on the vertex key; dead ends
(out-degree 0) freeze the walk, which simply stops extending. The path
column grows as array<long> — L × 8 bytes per walk, columnar. Lineage is
cut with an eager localCheckpoint every ``CKPT_EVERY`` steps and after the
last (the join tower is otherwise L levels deep).

Oracle properties (tests/test_walks.py): every consecutive pair is a
real edge; exact walk count; bit-identical reruns; seed sensitivity;
dead-end freezing; approximate uniformity of first-step choices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf

# Steps between lineage-cutting state materializations.
CKPT_EVERY = 4


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    walk_length: int = 10,
    walks_per_vertex: int = 1,
    seed: int = 17,
) -> DataFrame:
    """(walk_id, path: array<long>) — one row per walk.

    Walks follow OUT-edges from every vertex that has any, take up to
    ``walk_length`` steps (path length <= walk_length + 1) and freeze at
    dead ends. walk_id = vid * walks_per_vertex + replica."""
    if walk_length < 1:
        raise ValueError(f"walk_length must be >= 1, got {walk_length}")
    if walks_per_vertex < 1:
        raise ValueError(
            f"walks_per_vertex must be >= 1, got {walks_per_vertex}"
        )
    # Scale-adaptive loop partitioning (see loopstate.loop_shuffle_partitions);
    # walk picks are hash-of-(vid, step, seed) indexed into the deterministic
    # rank order, so the physical partition count never touches the output.
    with iterative_conf(spark, loop_rows=edges.count()):
        return _walk_loop(spark, edges, walk_length, walks_per_vertex, seed)


def _walk_loop(spark, edges, L, W, seed):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Degree-ranked adjacency (v, pick in [0, deg), nbr, nbr_deg) — the
    # sorted-nbr rank order is the deterministic contract the hash
    # indexes. Pre-partitioned ONCE by the step join's composite key
    # (v, pick), so each step shuffles only the O(walks) state, never the
    # O(E) adjacency, and a step never expands a hub's full fan-out (the
    # join probes exactly one (v, pick) row per walk — the equi-join
    # form, not a join-then-filter over deg rows).
    adj = (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("nbr"))
        .filter(F.col("v") != F.col("nbr"))
        .distinct()
    )
    w_rank = Window.partitionBy("v").orderBy("nbr")
    # pick is LONG to match the state side's pmod(xxhash64)'s type — a
    # type mismatch would wrap the join key in a cast, invalidating the
    # (v, pick) partitioning and reshuffling the adjacency every step
    # (caught by the plan assertion in test_walks.py)
    base = adj.withColumn(
        "pick", (F.row_number().over(w_rank) - 1).cast("long")
    ).withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("v")))
    degs = base.select("v", "deg").distinct()
    # nbr's out-degree rides along so the state always knows deg(cur)
    # without a per-step degree join; null = dead end.
    ranked = (
        base.join(
            degs.select(F.col("v").alias("nbr"), F.col("deg").alias("nbr_deg")),
            "nbr",
            "left",
        )
        .select("v", "pick", "nbr", "nbr_deg")
        .repartition(P, "v", "pick")
        .localCheckpoint(eager=True)
    )

    replicas = F.explode(F.sequence(F.lit(0), F.lit(W - 1))).alias("rep")
    state = (
        degs.select("v", "deg", replicas)
        .select(
            (F.col("v") * W + F.col("rep")).alias("walk_id"),
            F.col("v").alias("cur"),
            F.col("deg").alias("cur_deg"),
            F.array(F.col("v")).alias("path"),
        )
        .localCheckpoint(eager=True)
    )

    for t in range(1, L + 1):
        # hash-derived neighbor index; null cur_deg (dead end) -> null
        # pick -> the left join misses -> the walk freezes in place
        choice = F.pmod(
            F.xxhash64(F.col("walk_id"), F.lit(t), F.lit(seed)),
            F.col("cur_deg"),
        )
        stepped = (
            state.withColumn("pick", choice)
            .join(
                ranked.select(
                    F.col("v").alias("cur"), "pick", "nbr", "nbr_deg"
                ),
                ["cur", "pick"],
                "left",
            )
            .select(
                "walk_id",
                F.coalesce("nbr", "cur").alias("cur"),
                F.when(F.col("nbr").isNull(), F.col("cur_deg"))
                .otherwise(F.col("nbr_deg")).alias("cur_deg"),
                F.when(F.col("nbr").isNull(), F.col("path"))
                .otherwise(F.concat("path", F.array("nbr"))).alias("path"),
            )
        )
        if t % CKPT_EVERY == 0 or t == L:
            new_state = stepped.localCheckpoint(eager=True)
            state.unpersist()
            state = new_state
        else:
            state = stepped

    out = state.select("walk_id", "path")
    ranked.unpersist()
    return out


def node2vec_walks(
    spark: SparkSession,
    edges: DataFrame,
    walk_length: int = 10,
    walks_per_vertex: int = 1,
    p: float = 1.0,
    q: float = 1.0,
    seed: int = 17,
) -> DataFrame:
    """(walk_id, path: array<long>) — second-order biased walk corpus
    (node2vec, Grover & Leskovec KDD'16 — public knowledge): from state
    (t -> v), out-neighbor x of v draws unnormalized weight 1/p if x == t
    (return), 1 if the out-edge t -> x exists (stay near t), else 1/q
    (explore). The first step, with no predecessor, is uniform. p = inf /
    q = inf are honored exactly (weight 0 — the class is *never* chosen);
    a state whose every candidate weighs 0 freezes, like a dead end.

    **Why on-the-fly, not alias tables**: the classic single-machine
    node2vec precomputes one alias table per DIRECTED EDGE (t, v) —
    O(sum_v deg(v)^2) memory, the known scale-killer. Here the bias is
    evaluated per step as pure set algebra, O(active walks x out-degree)
    rows per step and zero precomputed per-edge state:

      1. expand: state joins the static adjacency on cur — one row per
         candidate (the irreducible input to any exact 2nd-order choice);
      2. classify: candidate == prev -> 1/p; else left-semi marker join of
         (prev, nbr) against the adjacency -> 1; else 1/q;
      3. choose: per-walk cumulative weight (window over nbr order) and a
         hash-derived uniform r = U(walk_id, t, seed) * total; the chosen
         candidate is the first with cum > r — computed as a min(struct)
         aggregate, no second window. Zero-weight candidates share their
         predecessor's cum and therefore own an empty interval: they are
         structurally unelectable (the min(struct) tiebreak lands on the
         positive-weight row), which is what makes the inf semantics exact.

    Determinism: r is xxhash64-derived exactly like ``random_walks`` —
    same inputs -> bit-identical corpus at any parallelism, so a lost
    partition regenerates identical walks on retry.

    Oracle properties (tests/test_walks.py): consecutive pairs are real
    edges; p=inf never immediately backtracks when an alternative exists;
    q=inf moves only to return/common-neighbor candidates; bit-identical
    reruns; p=q=1 first-step uniformity shared with random_walks.
    """
    if walk_length < 1:
        raise ValueError(f"walk_length must be >= 1, got {walk_length}")
    if walks_per_vertex < 1:
        raise ValueError(f"walks_per_vertex must be >= 1, got {walks_per_vertex}")
    if not (p > 0 and q > 0):
        raise ValueError(f"p and q must be > 0 (inf allowed), got p={p} q={q}")
    with iterative_conf(spark, loop_rows=edges.count()):
        return _node2vec_loop(
            spark, edges, walk_length, walks_per_vertex, p, q, seed,
        )


def _node2vec_loop(spark, edges, L, W, p, q, seed):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    adj = (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("nbr"))
        .filter(F.col("v") != F.col("nbr"))
        .distinct()
        .repartition(P, "v")
        .localCheckpoint(eager=True)
    )
    w_return = 0.0 if p == float("inf") else 1.0 / p
    w_out = 0.0 if q == float("inf") else 1.0 / q

    # prev = cur at t=0: the return class is empty (self-loops are
    # filtered) and every candidate is a cur-out-neighbor of prev=cur, so
    # step 1 is exactly the uniform first step of the paper.
    starts = adj.select("v").distinct()
    replicas = F.explode(F.sequence(F.lit(0), F.lit(W - 1))).alias("rep")
    state = (
        starts.select("v", replicas)
        .select(
            (F.col("v") * W + F.col("rep")).alias("walk_id"),
            F.col("v").alias("prev"),
            F.col("v").alias("cur"),
            F.array(F.col("v")).alias("path"),
        )
        .localCheckpoint(eager=True)
    )

    # marker table for the distance-1 class: does the out-edge prev -> nbr
    # exist? (directed walks bias on the directed neighborhood)
    marker = adj.select(
        F.col("v").alias("prev"), F.col("nbr").alias("cand"), F.lit(1).alias("near")
    )

    w_cum = Window.partitionBy("walk_id").orderBy("cand").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy("walk_id")

    for t in range(1, L + 1):
        cand = state.join(
            adj.select(F.col("v").alias("cur"), F.col("nbr").alias("cand")), "cur"
        ).join(marker, ["prev", "cand"], "left")
        weighted = cand.withColumn(
            "w",
            F.when(F.col("cand") == F.col("prev"), F.lit(w_return))
            .when(F.col("near").isNotNull(), F.lit(1.0))
            .otherwise(F.lit(w_out)),
        )
        # uniform in [0, 1): 53-bit hash mantissa (exact in double)
        u = F.pmod(
            F.xxhash64(F.col("walk_id"), F.lit(t), F.lit(seed)),
            F.lit(1 << 53),
        ) / F.lit(float(1 << 53))
        scored = weighted.select(
            "walk_id", "cand",
            F.sum("w").over(w_cum).alias("cum"),
            (u * F.sum("w").over(w_tot)).alias("r"),
        )
        picks = (
            scored.filter((F.col("cum") > F.col("r")) & (F.col("r") >= 0))
            .groupBy("walk_id")
            .agg(F.min(F.struct("cum", "cand")).alias("sel"))
            .select("walk_id", F.col("sel.cand").alias("nxt"))
        )
        stepped = state.join(picks, "walk_id", "left").select(
            "walk_id",
            F.when(F.col("nxt").isNull(), F.col("prev"))
            .otherwise(F.col("cur")).alias("prev"),
            F.coalesce("nxt", "cur").alias("cur"),
            F.when(F.col("nxt").isNull(), F.col("path"))
            .otherwise(F.concat("path", F.array("nxt"))).alias("path"),
        )
        if t % CKPT_EVERY == 0 or t == L:
            new_state = stepped.localCheckpoint(eager=True)
            state.unpersist()
            state = new_state
        else:
            state = stepped

    out = state.select("walk_id", "path")
    adj.unpersist()
    return out
