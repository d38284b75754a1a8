"""k-truss decomposition — edge-level cohesion analytics, the edge analog
of k-core (SURVEY.md Table A C1 family: Verum's notebooks rank neighborhood
density; trussness ranks how embedded an *edge* is in triangles).

Definitions (Cohen 2008, "Trusses: cohesive subgraphs for social network
analysis"; Wang & Cheng VLDB'12 — public knowledge): the k-truss is the
maximal subgraph in which every edge closes at least (k-2) triangles within
the subgraph; an edge's truss number is the largest k whose k-truss contains
it. Every edge (of a simple graph) has trussness >= 2.

Two operators, mirroring kcore.py's pair:

``k_truss``  — direct iterative peel for one threshold: recompute per-edge
support (triangles through the edge) on the surviving subgraph, drop edges
with support < k-2, repeat to fixpoint. Support uses the degree-ordered
wedge join from triangles.py (per-round oriented out-degree is O(sqrt E),
so hub vertices cannot explode the join). Rounds = peel depth; state is
only the surviving edge set, localCheckpoint'ed, previous round released.
Fails loudly at the iteration cap (a partially-peeled set is NOT a truss —
same policy as k_core).

``truss_numbers`` — full decomposition via the **edge h-index fixpoint**
(Sariyüce, Seshadhri & Pinar, "Local algorithms for hierarchical dense
subgraph discovery", VLDB'18 — the truss instance of nucleus decomposition;
the same argument that makes Lü et al.'s vertex h-index converge to
coreness): initialize every edge's estimate to its support, then
synchronously replace it with the h-index of {min(est(f), est(g))} over its
triangles (f, g the two other edges). The sequence is elementwise
non-increasing and integer-valued, so it terminates; the fixpoint lambda
satisfies trussness = lambda + 2. Spark-shaped: triangles are enumerated
ONCE into a static (edge, other1, other2) table — 3 rows per triangle, the
irreducible size of the input to any triangle-aware algorithm — and each
round is two equi-joins of that table against the O(E) estimate state plus
one windowed h-index pass, everything codegen'd, convergence by the same
count+xxhash64 checksum as kcore/lpa, observed on the round's own
materialization (no extra job).

Oracle: trussness(e) == max k with e in networkx.k_truss(G, k), exact
(tests/test_truss.py), and k_truss edge sets == nx.k_truss(G, k).edges.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf, observed_checkpoint
from engine.algos.triangles import _oriented


@dataclass
class TrussResult:
    # (a, b, truss) — canonical a < b undirected edges with truss numbers
    truss: DataFrame
    iterations: int
    converged: bool


def _und(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _support(und: DataFrame) -> DataFrame:
    """(a, b, support) for every edge of the canonical undirected view.

    Triangle {x<y<z} (in degree order) credits its three edges; edges in
    no triangle keep support 0 via the left join."""
    tri = _triangles(und)
    corners = (
        tri.select(F.col("e1a").alias("a"), F.col("e1b").alias("b"))
        .unionByName(tri.select(F.col("e2a").alias("a"), F.col("e2b").alias("b")))
        .unionByName(tri.select(F.col("e3a").alias("a"), F.col("e3b").alias("b")))
    )
    sup = corners.groupBy("a", "b").agg(F.count(F.lit(1)).cast("int").alias("support"))
    return und.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).alias("support")
    )


def _triangles(und: DataFrame) -> DataFrame:
    """One row per triangle with its three canonical edges
    (e1a,e1b, e2a,e2b, e3a,e3b). Degree-ordered wedge join (see
    triangles.py): out-degree of the oriented DAG is O(sqrt E), so the
    self-join is hub-skew-safe."""
    o = _oriented(und.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    x, y = o.alias("x"), o.alias("y")
    wedge = (
        x.join(y, on="src")
        .filter(F.col("x.dkey") < F.col("y.dkey"))
        .select("src", F.col("x.dst").alias("wa"), F.col("y.dst").alias("wb"))
    )
    tri = wedge.join(
        o.select(F.col("src").alias("wa"), F.col("dst").alias("wb")),
        ["wa", "wb"],
        "inner",
    )
    def edge(u, v, pa, pb):
        return [
            F.least(u, v).alias(pa),
            F.greatest(u, v).alias(pb),
        ]
    return tri.select(
        *edge(F.col("src"), F.col("wa"), "e1a", "e1b"),
        *edge(F.col("src"), F.col("wb"), "e2a", "e2b"),
        *edge(F.col("wa"), F.col("wb"), "e3a", "e3b"),
    )


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_iter: int = 100,
) -> DataFrame:
    """Edges (a, b) of the k-truss subgraph of the undirected simple view.

    Matches ``networkx.k_truss(g, k).edges`` exactly. Peel depth can reach
    O(E) on pathological chains of triangles — the cap fails loudly, never
    returns a partially-peeled set."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    with iterative_conf(spark):
        und = _und(edges).localCheckpoint(eager=True)
        n_old = und.count()
        stable = False
        for _ in range(max_iter):
            keep = _support(und).filter(F.col("support") >= k - 2)
            pruned = keep.select("a", "b").localCheckpoint(eager=True)
            n_new = pruned.count()
            old, und = und, pruned
            old.unpersist()
            if n_new == n_old:
                stable = True
                break
            n_old = n_new
        if not stable:
            und.unpersist()
            raise RuntimeError(
                f"k_truss(k={k}) did not reach its peel fixpoint within "
                f"max_iter={max_iter} rounds; raise max_iter"
            )
        return und


def truss_numbers(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 100,
) -> TrussResult:
    """Truss number of every edge of the undirected simple view (edges in
    no triangle -> 2)."""
    with iterative_conf(spark):
        return _truss_loop(spark, edges, max_iter)


def _truss_loop(spark, edges, max_iter):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = _und(edges).localCheckpoint(eager=True)

    # Static triangle incidence: 3 rows per triangle, (edge, other1, other2)
    # keyed by a single 64-bit edge id (xxhash64 of the canonical pair) so
    # every per-round join is a narrow long-key equi-join. Collisions would
    # only merge two edges' estimates; guard by checking id uniqueness once.
    def eid(a, b):
        return F.xxhash64(a, b)

    tri = _triangles(und)
    inc = (
        tri.select(
            eid("e1a", "e1b").alias("e"),
            eid("e2a", "e2b").alias("f"),
            eid("e3a", "e3b").alias("g"),
        )
        .unionByName(
            tri.select(
                eid("e2a", "e2b").alias("e"),
                eid("e1a", "e1b").alias("f"),
                eid("e3a", "e3b").alias("g"),
            )
        )
        .unionByName(
            tri.select(
                eid("e3a", "e3b").alias("e"),
                eid("e1a", "e1b").alias("f"),
                eid("e2a", "e2b").alias("g"),
            )
        )
        .repartition(P, "e")
        .localCheckpoint(eager=True)
    )

    keyed = und.select("a", "b", eid("a", "b").alias("e"))
    n_edges = keyed.count()
    n_ids = keyed.select("e").distinct().count()
    if n_ids != n_edges:
        raise RuntimeError(
            f"xxhash64 edge-id collision ({n_edges} edges, {n_ids} ids) — "
            "cannot run the h-index fixpoint on merged identities"
        )

    # est0 = support; the h-operator only lowers it (guarded by least()),
    # monotone integer descent onto lambda = trussness - 2.
    est, prev_cs = observed_checkpoint(
        inc.groupBy("e").agg(F.count(F.lit(1)).cast("int").alias("est")),
        "e", "est",
    )
    w = Window.partitionBy("e").orderBy(F.desc("m"), "f")
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        vals = (
            inc.join(est.select(F.col("e").alias("f"), F.col("est").alias("lf")), "f")
            .join(est.select(F.col("e").alias("g"), F.col("est").alias("lg")), "g")
            .select("e", "f", F.least("lf", "lg").alias("m"))
        )
        hidx = (
            vals.withColumn("rn", F.row_number().over(w))
            .groupBy("e")
            .agg(F.max(F.least("m", "rn")).cast("int").alias("h"))
        )
        new_est, cs = observed_checkpoint(
            est.join(hidx, "e", "left")
            .select("e", F.least("est", F.coalesce("h", F.lit(0))).alias("est")),
            "e", "est",
        )
        old, est = est, new_est
        old.unpersist()
        if cs == prev_cs:
            converged = True
            break
        prev_cs = cs

    out = (
        keyed.join(est, "e", "left")
        .select(
            "a", "b",
            (F.coalesce("est", F.lit(0)) + F.lit(2)).cast("int").alias("truss"),
        )
    )
    inc.unpersist()
    und.unpersist()
    return TrussResult(out, it, converged)
