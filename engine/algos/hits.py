"""HITS (hubs & authorities) as an iterative DataFrame algorithm.

Kleinberg's HITS (1999, "Authoritative sources in a hyperlinked
environment" — public knowledge) scores every vertex twice: a good HUB
points at good authorities, a good AUTHORITY is pointed at by good hubs —
the natural companion to PageRank on a derived link graph (a repo that
aggregates widely-shared content is a hub; the content everyone carries is
an authority). Power iteration on A^T A / A A^T, expressed set-oriented:

    a_t(v) = sum over in-edges  u->v of h_{t-1}(u)     (gather along dst)
    h_t(u) = sum over out-edges u->v of a_t(v)         (gather along src)
    normalize both by their max (nx's per-iteration scaling)

Loop discipline matches pagerank.py: the edge table shuffles ONCE before
the loop and is persisted hash(src)- and hash(dst)-keyed copies would cost
double the cache, so the second gather accepts one exchange; state is
hash(vid)-partitioned and localCheckpoint'ed per round; ONE Spark job per
round — the per-iteration max-normalization is DEFERRED one round (the
round-t maxes are observed during round t's materialization and applied as
driver-scalar divisors inside round t+1's expressions; HITS is
scale-invariant per iteration, so deferral changes nothing about the
direction the iteration converges to). The convergence error — networkx's
sum(|h_norm_t - h_norm_{t-1}|) — is likewise observed one round late,
so the loop stops one round after crossing tol.

Oracle: a pure-python power iteration replicating
networkx.algorithms.link_analysis.hits_alg semantics (normalized output:
h and a each sum to 1), allclose 1e-6 (tests/test_hits.py; the nx
implementation itself requires scipy, absent from this container).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from engine.algos.loopstate import iterative_conf


@dataclass
class HITSResult:
    scores: DataFrame  # (vid, hub, authority) — each column sums to 1
    iterations: int
    converged: bool
    err: float
    metrics: list[dict[str, Any]] = field(default_factory=list)


def hits(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 100,
    tol: float = 1e-8,
) -> HITSResult:
    """Run HITS to nx's convergence criterion (L1 of successive
    max-normalized hub vectors < tol) or ``max_iter``. Edges are taken as
    a simple digraph (distinct (src, dst); self-loops participate, as in
    networkx). Vertices absent from any edge score 0."""
    with iterative_conf(spark):
        return _hits_loop(spark, edges, vertices, max_iter, tol)


def _hits_loop(spark, edges, vertices, max_iter, tol):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        edges.select("src", "dst")
        .distinct()
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_edges = e.count()

    if vertices is None:
        vids = (
            e.select(F.col("src").alias("vid"))
            .unionByName(e.select(F.col("dst").alias("vid")))
            .distinct()
        )
    else:
        vids = vertices.select("vid")
    state = (
        vids.select(
            "vid",
            F.lit(1.0).alias("h"),
            F.lit(1.0).alias("a"),
            F.lit(0.0).alias("h_prev_n"),  # last round's NORMALIZED h
        )
        .repartition(P, "vid")
        .localCheckpoint(eager=True)
    )
    n = state.count()
    if n == 0:
        e.unpersist()
        return HITSResult(
            vids.select(
                "vid", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
            ),
            0, True, 0.0,
        )

    # Deferred per-round scaling: ``mh`` is round t-1's observed max(h),
    # applied as a driver-scalar divisor while CONSUMING h in round t.
    # Initial h=1 with mh=1 is nx's uniform start up to global scale
    # (HITS is scale-invariant; nx's 1/n start cancels in its first
    # normalization). The convergence error is likewise one round late:
    # round t's job observes err_{t-1} = sum|h_{t-1}/mh_{t-1} -
    # h_{t-2}/mh_{t-2}| from columns that are both fully known mid-plan,
    # so the loop runs exactly one round past nx's stopping point and
    # every round stays ONE job.
    mh = 1.0
    err = float("inf")
    converged = False
    metrics: list[dict[str, Any]] = []
    it = 0
    for it in range(1, max_iter + 1):
        h_norm = F.col("h") / mh  # h_{t-1} normalized, nx's hlast
        ain = (
            e.join(
                state.select(F.col("vid").alias("src"), h_norm.alias("hn")),
                "src",
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("hn").alias("a_new"))
        )
        hn = (
            e.join(ain.select(F.col("vid").alias("dst"), "a_new"), "dst")
            .groupBy(F.col("src").alias("vid"))
            .agg(F.sum("a_new").alias("h_new"))
        )
        obs = Observation(f"hits_{it}")
        staged = (
            state.join(ain, "vid", "left")
            .join(hn, "vid", "left")
            # observe BEFORE the slimming select: h here is STILL h_{t-1},
            # h_prev_n is h_{t-2} normalized — their difference is the
            # error after iteration t-1, nx's stopping quantity
            .observe(
                obs,
                F.max(F.coalesce("h_new", F.lit(0.0))).alias("mh"),
                F.max(F.coalesce("a_new", F.lit(0.0))).alias("ma"),
                F.sum(F.abs(h_norm - F.col("h_prev_n"))).alias("err_prev"),
            )
            .select(
                "vid",
                F.coalesce("h_new", F.lit(0.0)).alias("h"),
                F.coalesce("a_new", F.lit(0.0)).alias("a"),
                h_norm.alias("h_prev_n"),
            )
        )
        new_state = staged.localCheckpoint(eager=True)
        vals = obs.get
        new_mh = float(vals["mh"] or 0.0)
        if it >= 2:
            err = float(vals["err_prev"] or 0.0)
        metrics.append(
            {"iter": it, "max_h": new_mh, "max_a": float(vals["ma"] or 0.0),
             "err_prev": float(vals["err_prev"] or 0.0),
             "n_edges": n_edges, "n_vertices": n}
        )
        prev = state
        state = new_state
        prev.unpersist()
        if new_mh <= 0.0:
            # no vertex gained hub mass: edgeless input, trivially converged
            converged = True
            err = 0.0
            break
        mh = new_mh
        if err < tol:
            converged = True
            break

    e.unpersist()
    tots = state.agg(
        F.sum("h").alias("th"), F.sum("a").alias("ta")
    ).collect()[0]
    tot_h = float(tots["th"] or 0.0)
    tot_a = float(tots["ta"] or 0.0)
    out = state.select(
        "vid",
        (F.col("h") / tot_h if tot_h > 0 else F.lit(0.0)).alias("hub"),
        (F.col("a") / tot_a if tot_a > 0 else F.lit(0.0)).alias("authority"),
    )
    return HITSResult(out, it, converged, err, metrics)
