"""k-core decomposition — neighborhood-density analytics (SURVEY.md Table A
C1, same family as triangles/LPA: Verum's notebooks read coreness off the
context graph to rank how embedded an entity is in its neighborhood).

Coreness via the **h-index fixpoint** (Lü, Zhou, Zhang & Stanley, "The
H-index of a network node and its relation to degree and coreness", Nature
Communications 2016 — public knowledge): initialize every vertex estimate
to its degree, then synchronously replace each estimate with the h-index of
its neighbors' estimates (the largest h such that at least h neighbors have
estimate >= h). The sequence is elementwise non-increasing and
integer-valued, so it terminates, and its fixpoint is exactly the core
number. This formulation is Spark-shaped: per round one join (estimates to
the static neighbor table) and one per-vertex ordered pass — no mutable
priority queue like the classic sequential peel (Batagelj–Zaversnik).

Per-iteration plan (mirrors lpa.py's co-partitioned loop):
  - ``nbrs`` (u, v) — undirected simple view, hash-partitioned ONCE by v;
  - estimates stay hash(vid)-partitioned; the join renames vid->v, which
    preserves partitioning, so the O(E) side never reshuffles;
  - h-index per vertex WITHOUT collecting neighbor lists: window
    row_number over (u ordered by est desc), then h = max(least(est, rn))
    — a sort of each adjacency run, O(deg log deg), skew bounded by max
    degree (intrinsic: any h-index evaluation reads the whole
    neighborhood). No arrays, no Python, whole-stage codegen throughout.
  - convergence by the same count+xxhash64 state checksum as LPA — one
    scalar job per round; states localCheckpoint'ed, evicted ones
    unpersisted.

Round complexity: the fixpoint needs rounds proportional to how far wrong
the degree initialization is along chains (a path graph takes O(n) rounds
— same lower bound as distributed peeling). Real link graphs (power-law,
small diameter) converge in tens of rounds; ``max_iter`` caps pathological
inputs and ``converged`` reports honestly.

Oracle: ``networkx.core_number`` exact (tests/test_kcore.py).

The h-index fixpoint never sees the PEELING ORDER; when the layer of
the peel matters (core-periphery profiles, anomaly detection), use the
onion decomposition (engine/algos/onion.py), whose batch peel also
yields core numbers as a by-product.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf, observed_checkpoint


@dataclass
class KCoreResult:
    cores: DataFrame  # (vid, core)
    iterations: int
    converged: bool


def core_numbers(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 100,
) -> KCoreResult:
    """Core number of every vertex (isolated vertices -> 0).

    ``vertices``: optional (vid, ...) to include edge-less vertices, same
    contract as the other algorithms."""
    # Scale-adaptive loop partitioning (loopstate.loop_shuffle_partitions)
    # needs the size before the nbrs layout commits a partition count; the
    # symmetric view doubles the rows (row_bytes=32 ~ 2 x 16B edge rows).
    with iterative_conf(spark, loop_rows=edges.count(), row_bytes=32):
        return _kcore_loop(spark, edges, vertices, max_iter)


def _kcore_loop(spark, edges, vertices, max_iter):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nbrs = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition(P, "v")
        .localCheckpoint(eager=True)
    )
    # est0 = degree; the h-operator only ever lowers it (guarded by least()
    # below), so the loop is a monotone descent onto the coreness fixpoint.
    est, prev_cs = observed_checkpoint(
        nbrs.groupBy(F.col("v").alias("vid"))
        .agg(F.count(F.lit(1)).cast("int").alias("est")),
        "vid", "est",
    )

    w = Window.partitionBy("u").orderBy(F.desc("est"), "v")
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        ranked = (
            nbrs.join(est.withColumnRenamed("vid", "v"), "v")
            .withColumn("rn", F.row_number().over(w))
        )
        # h-index of the neighbor estimates: with values sorted descending,
        # h = max_i min(value_i, i). groupBy(u) lands on the window's own
        # hash(u) partitioning — no extra exchange.
        hidx = ranked.groupBy(F.col("u").alias("vid")).agg(
            F.max(F.least("est", "rn")).cast("int").alias("h")
        )
        new_est, cs = observed_checkpoint(
            est.join(hidx, "vid", "left")
            .select("vid", F.least("est", F.coalesce("h", F.lit(0))).alias("est")),
            "vid", "est",
        )
        old, est = est, new_est
        old.unpersist()
        if cs == prev_cs:
            converged = True
            break
        prev_cs = cs

    cores = est.withColumnRenamed("est", "core")
    if vertices is not None:
        cores = vertices.select("vid").join(cores, "vid", "left").select(
            "vid", F.coalesce("core", F.lit(0)).alias("core")
        )
    nbrs.unpersist()
    return KCoreResult(cores, it, converged)


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_iter: int = 100,
) -> DataFrame:
    """Edges of the k-core subgraph (undirected simple view, a < b).

    Direct iterative peel for a single k — cheaper than the full
    decomposition when only one threshold matters: drop vertices with
    degree < k, recompute, repeat to fixpoint. Rounds = peel depth; each
    round is one degree aggregation and two semi-joins, state is only the
    surviving edge set (localCheckpoint'ed, previous round released).
    Matches ``networkx.k_core(g, k).edges`` (tests/test_kcore.py).
    """
    with iterative_conf(spark):
        und = (
            edges.select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_old = und.count()
        stable = False
        for _ in range(max_iter):
            deg = (
                und.select(F.col("a").alias("v"))
                .unionByName(und.select(F.col("b").alias("v")))
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("deg"))
            )
            keep = deg.filter(F.col("deg") >= k).select("v")
            pruned = (
                und.join(keep.withColumnRenamed("v", "a"), "a", "semi")
                .join(keep.withColumnRenamed("v", "b"), "b", "semi")
                .select("a", "b")
                .localCheckpoint(eager=True)
            )
            n_new = pruned.count()
            old, und = und, pruned
            old.unpersist()
            if n_new == n_old:
                stable = True
                break
            n_old = n_new
        if not stable:
            # a partially-peeled edge set is NOT the k-core and there is
            # no flag channel on a bare DataFrame return — fail loudly
            # (peel depth can reach O(V): a path graph sheds only its two
            # endpoints per round)
            und.unpersist()
            raise RuntimeError(
                f"k_core(k={k}) did not reach its peel fixpoint within "
                f"max_iter={max_iter} rounds; raise max_iter"
            )
        return und
