"""PageRank as an iterative DataFrame algorithm — the engine flagship.

Semantics: damped PageRank with dangling-mass redistribution, optionally
*personalized* (a teleport-mass DataFrame), which is exactly the rebuild of
Verum's topic-sensitive score propagation — the reference delegated scoring
to ``networkx.pagerank(personalization=topic_nodes)``
([R plugins/networkx.py::score_subgraph, reconstructed — SURVEY.md Table A
S2]); the north rule grades the plain damped variant and the personalized
one is a parameter away (SURVEY.md §7.3.4).

Scale design (the parts that must survive 10^12 edges):

- **Edges shuffle once, state moves per iteration.** The edge table is
  normalized (weight / out-weight), pre-partitioned on ``src`` and persisted
  before the loop. Each iteration then moves only the O(V) rank state: as a
  broadcast (small V — the gather is then map-side against the partitioned
  edge cache, zero edge movement) or as a hash shuffle (large V),
  picked automatically by V (``BROADCAST_STATE_MAX_V``).
- **ONE action per iteration.** The whole iteration — gather join, salted
  aggregation, update join, new-state materialization — is a single Spark
  job; the convergence L1 delta and the *next* iteration's dangling mass
  are captured during that same job via ``df.observe`` (Observation API),
  so no second pass and no extra driver round-trips ever happen. The
  observed dangling mass is also committed into the iteration manifest, so
  a resumed run reuses the exact value the crashed run observed instead of
  re-deriving it through a differently-ordered float aggregation. (Dangling
  mass for iteration i+1 is ``sum(value_i over dangling vids)`` — a static
  per-vertex flag computed once — so observing it on iteration i's output
  is exact.)
- **Hub skew: partial aggregation first, salting as the explicit option.**
  ``groupBy(dst).sum`` map-side partial aggregation bounds a mega-hub's
  reducer input to ONE partial row per map partition — for an algebraic
  aggregate this is already the two-phase skew split, done by Tungsten for
  free. The *explicit* salted path (pre-attached salt modulus on hub dsts,
  ``groupBy(dst, salt)`` then ``groupBy(dst)``) is kept behind
  ``salt_hub_threshold`` for non-algebraic gathers, but measured OFF as the
  default: at 10.3M edges it costs a full extra exchange per iteration
  (2.06 s/iter -> 1.26 s/iter at local[32] when removed, r2 probes).
- **Pinned planner conf for the loop** (``loopstate.iterative_conf``): AQE
  off and shuffled-hash over sort-merge, with a scale-adaptive loop
  partition count.
- **Constant-depth plans + resumability**: with a ``RunCheckpoint``, every
  iteration's state is a Parquet checkpoint, re-read as the next
  iteration's input (lineage cut); resume picks up from the last
  committed manifest (io.RunCheckpoint).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from engine.algos.loopstate import iterative_conf
from engine.graph import hub_vertices
from engine.io import RunCheckpoint


@dataclass
class PageRankResult:
    ranks: DataFrame  # (vid, value)
    iterations: int
    converged: bool
    l1_delta: float
    metrics: list[dict[str, Any]] = field(default_factory=list)
    resumed_from: int | None = None
    # pagerank_delta only: total edge rows gathered across all rounds
    # (dense equivalent = iterations * n_edges)
    edges_gathered: int | None = None


# Above this many vertices the per-iteration broadcast of the rank state
# stops paying for itself vs a hash shuffle of the same rows. Measured on
# this host: at V=1.46M, broadcast mode runs 9.4 s/iter with high variance
# (broadcast build + cleanup churn) vs 5.6 s/iter shuffled; at V~10^3 the
# broadcast path wins ~3x (no shuffle at all against the partitioned edge
# cache). Threshold sits where the state stops being dimension-table-sized.
BROADCAST_STATE_MAX_V = 100_000

STATE_COLS = ("vid", "p", "dang", "value")


def _prepare_edges(
    edges: DataFrame,
    weighted: bool,
    salt_hub_threshold: int | None,
    salt_buckets: int,
    partitions: int,
    pre_partitioned: bool = False,
) -> tuple[DataFrame, DataFrame, bool]:
    """Returns (norm_edges(src,dst,cw[,salt]), out_vids(vid), has_hubs).

    cw = transition probability src->dst. When salting is requested AND a
    hub exists, the salt is pre-attached ONCE so the loop pays nothing
    per-iteration to compute it; when off, the cached edge table carries no
    salt column at all (narrower rows = less cache traffic per iteration)."""
    w = F.col("weight") if weighted else F.lit(1.0)
    e = edges.select("src", "dst", w.alias("w"))
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    norm = e.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("cw")
    )
    has_hubs = False
    hubs = None
    if salt_hub_threshold is not None:
        hubs = hub_vertices(edges, salt_hub_threshold).select(
            F.col("vid").alias("dst"), F.lit(salt_buckets).alias("salt_mod")
        )
        has_hubs = not hubs.isEmpty()
    if has_hubs:
        norm = norm.join(F.broadcast(hubs), "dst", "left").select(
            "src",
            "dst",
            "cw",
            F.pmod(F.xxhash64("src"), F.coalesce("salt_mod", F.lit(1))).alias("salt"),
        )
    if not pre_partitioned:
        # One explicit shuffle so every iteration's gather join finds the
        # edge side already clustered by src. Skipped when the input comes
        # from a bucketed table (graph.save_edges_bucketed): the scan then
        # already exposes HashPartitioning(src) and the groupBy/join above
        # preserved it, so repartitioning would be a wasted O(E) shuffle.
        norm = norm.repartition(partitions, "src")
    return norm, out_w.select(F.col("src").alias("vid")), has_hubs


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
    weighted: bool = True,
    personalization: DataFrame | None = None,
    checkpoint: RunCheckpoint | None = None,
    resume: bool = False,
    salt_hub_threshold: int | None = None,
    salt_buckets: int = 16,
    edges_pre_partitioned: bool = False,
    initial_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Run damped PageRank to L1 < ``tol`` or ``max_iter``.

    Parameters mirror ``networkx.pagerank`` where they overlap (alpha,
    personalization, weight handling, dangling mass distributed by the
    teleport vector) so the t2 oracle comparison is apples-to-apples.

    ``edges``: pass a materialized (cached or checkpointed) table — the
    loop sizing counts it once before the loop.

    ``personalization``: optional (vid, mass) DataFrame — Verum's topic
    seed set; normalized internally; missing vids get mass 0.

    ``checkpoint``: when given, every iteration's state is written to it
    and committed (the resumable path); ``resume`` restarts from its last
    committed iteration, salvaging a half-written one.

    ``edges_pre_partitioned``: True when ``edges`` comes from a bucketed
    table clustered by src (graph.save_edges_bucketed with buckets ==
    shuffle partitions) — skips the loop's one-time O(E) repartition.

    ``salt_hub_threshold``: None (default) relies on Tungsten partial
    aggregation for hub-dst skew (one partial per map partition per key —
    already two-phase for the algebraic sum); an int enables the explicit
    salted two-phase aggregation for dsts above that in-degree. Results are
    identical either way (tested to 1e-12); the explicit path costs one
    extra exchange per iteration.

    ``initial_ranks``: optional (vid, value) DataFrame to warm-start the
    power iteration from — typically yesterday's converged ranks after an
    incremental edge update. The damped update is an affine contraction
    with modulus alpha, so the fixpoint is init-independent: a warm start
    reaches the SAME ranks, just in far fewer iterations when the graph
    changed little (each iteration shrinks the distance to the fixpoint by
    alpha, so the saving is log_alpha(d_warm/d_cold) iterations). Vids
    absent from ``initial_ranks`` (new vertices) get their teleport mass;
    the vector is L1-normalized before iterating. Ignored when ``resume``
    finds a checkpoint (the checkpoint is the closer start).
    """
    # Scale-adaptive loop partitioning needs the input size BEFORE the
    # edge table is laid out (the gather join's co-partitioning contract
    # ties the cached edge layout to the loop's shuffle partitioning).
    # Callers pass materialized edge tables, so this count is a cached
    # scan; the bucketed path is exempt — its partitioning IS the saved
    # bucket count, which the session value already matches.
    loop_rows = None if edges_pre_partitioned else edges.count()
    with iterative_conf(spark, loop_rows=loop_rows):
        return _pagerank_loop(
            spark, edges, vertices, alpha, tol, max_iter, weighted,
            personalization, checkpoint, resume,
            salt_hub_threshold, salt_buckets,
            edges_pre_partitioned, initial_ranks,
        )


def _gather_update(norm, ranks, p_col, alpha, dangling, has_hubs, bcast, pre):
    """ONE synchronous PageRank update as a DataFrame expression:
    gather edges(src)⋈ranks -> per-dst contribution sum (hub-salted partial
    stage when hubs are present) -> damped update joined back onto the
    state. Returns (vid, p, dang, value, diff); shared by the main loop and
    mid-iteration salvage so both run the same expression tree. Salvaged
    partitions are numerically equivalent to an uninterrupted run within
    float-sum associativity (partial-sum order is partition-order dependent);
    the committed-manifest ``dang_mass`` reuse above removes the one scalar
    input that could otherwise drift, and the resume test asserts
    equality at 1e-12.

    ``pre``: the iteration-invariant Column subtrees from
    :func:`_prebuild_update_cols` — Columns are immutable name-resolved
    trees, so the loop builds them ONCE and only the per-iteration
    ``dangling`` literal is grafted in here (the assembled tree is
    shape-identical to the inline form, so the float arithmetic is
    unchanged; this only cuts the per-iteration py4j expression-building
    chatter, measured ~0.1s/iteration on this host)."""
    gathered = norm.join(
        bcast(ranks.select(F.col("vid").alias("src"), "value")), "src"
    )
    if has_hubs:
        contribs = (
            gathered.groupBy("dst", "salt")
            .agg(pre["cw_value_sum"].alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
    else:
        contribs = gathered.groupBy("dst").agg(pre["cw_value_sum"].alias("c"))
    # same tree as the historical inline form:
    # (1-alpha)*p + alpha*(coalesce(c, 0) + dangling*p)
    value = pre["teleport"] + alpha * (pre["c0"] + dangling * p_col)
    return (
        ranks.withColumnRenamed("value", "old")
        .join(bcast(contribs.withColumnRenamed("dst", "vid")), "vid", "left")
        .select(
            "vid",
            "p",
            "dang",
            value.alias("value"),
            F.abs(value - F.col("old")).alias("diff"),
        )
    )


def _prebuild_update_cols(p_col, alpha):
    """Iteration-invariant Column subtrees of the damped update."""
    return {
        "cw_value_sum": F.sum(F.col("cw") * F.col("value")),
        "teleport": (1.0 - alpha) * p_col,
        "c0": F.coalesce(F.col("c"), F.lit(0.0)),
    }


def _pagerank_loop(
    spark, edges, vertices, alpha, tol, max_iter, weighted, personalization,
    checkpoint, resume, salt_hub_threshold, salt_buckets,
    edges_pre_partitioned=False, initial_ranks=None,
) -> PageRankResult:
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Narrow vertex ids to int32 when they fit (dense vids fit up to 2^31
    # vertices — comfortably past the 10^9-vertex target): join keys and
    # the cached edge table shrink by a third, measured ~14%/iteration at
    # 10.3M edges. Weights/values stay float64 — numerics are untouched.
    if vertices is not None:
        max_vid = vertices.agg(F.max("vid")).collect()[0][0]
    else:
        max_vid = edges.agg(
            F.greatest(F.max("src"), F.max("dst"))
        ).collect()[0][0]
    # Edge-side narrowing is SKIPPED on the bucketed-table path: casting
    # src/dst on top of the bucketed scan would invalidate its
    # HashPartitioning(src) (Murmur3 hash(int) != hash(long)), forcing the
    # planner to re-shuffle the O(E) edge side — exactly the exchange the
    # bucket layout exists to avoid. graph.save_edges_bucketed instead
    # narrows AT SAVE TIME when the vids fit, so the bucketed scan is
    # already int32; here we only align the O(V) state side to the edge
    # key type (an int==bigint join would cast the EDGE key to bigint and
    # re-shuffle it — same trap from the other direction).
    fits = max_vid is not None and int(max_vid) < 2**31 - 1
    src_is_int = dict(edges.dtypes).get("src") == "int"
    narrow_edges = fits and not edges_pre_partitioned and not src_is_int
    narrow_state = narrow_edges or (fits and src_is_int)
    if narrow_edges:
        edges = edges.withColumn("src", F.col("src").cast("int")).withColumn(
            "dst", F.col("dst").cast("int")
        )
    if narrow_state:
        if vertices is not None:
            vertices = vertices.withColumn("vid", F.col("vid").cast("int"))
        if personalization is not None:
            personalization = personalization.withColumn(
                "vid", F.col("vid").cast("int")
            )
        if initial_ranks is not None:
            initial_ranks = initial_ranks.withColumn(
                "vid", F.col("vid").cast("int")
            )
    norm, out_vids, has_hubs = _prepare_edges(
        edges, weighted, salt_hub_threshold, salt_buckets, P,
        pre_partitioned=edges_pre_partitioned,
    )
    norm.persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = norm.count()  # materialize the one-time edge shuffle

    if vertices is None:
        vids = (
            edges.select(F.col("src").alias("vid"))
            .unionByName(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    else:
        vids = vertices.select("vid")

    # Static per-vertex columns: teleport mass p (uniform -> null, filled by
    # p_col) and the dangling flag (no out-edges).
    if personalization is not None:
        tot = personalization.agg(F.sum("mass")).collect()[0][0]
        if tot is None or not (float(tot) > 0.0):
            raise ValueError(
                f"personalization mass must sum > 0 (got {tot!r}); "
                "an empty or all-zero teleport vector has no stationary "
                "distribution"
            )
        base = vids.join(personalization, "vid", "left").select(
            "vid",
            (F.coalesce(F.col("mass"), F.lit(0.0)) / F.lit(float(tot))).alias("p"),
        )
    else:
        base = vids.select("vid", F.lit(None).cast("double").alias("p"))
    base = base.join(
        out_vids.withColumn("nd", F.lit(True)), "vid", "left"
    ).select("vid", "p", F.coalesce(F.col("nd"), F.lit(False)).alias("out_ok"))
    base = base.select(
        "vid", "p", (~F.col("out_ok")).alias("dang")
    ).repartition(P, "vid").persist(StorageLevel.MEMORY_AND_DISK)
    n = base.count()
    if n == 0:
        return PageRankResult(
            vids.select(
                F.col("vid").cast("long").alias("vid"), F.lit(0.0).alias("value")
            ),
            0, True, 0.0,
        )
    p_col = F.coalesce(F.col("p"), F.lit(1.0 / n))
    bcast = F.broadcast if n <= BROADCAST_STATE_MAX_V else (lambda df: df)

    start_iter = 0
    resumed_from = None
    metrics: list[dict[str, Any]] = []
    if resume and checkpoint is not None and checkpoint.latest() is not None:
        start_iter = checkpoint.latest()
        resumed_from = start_iter
        prev = checkpoint.read(spark, start_iter).select("vid", "value")
        ranks = base.join(bcast(prev), "vid").select(*STATE_COLS)
        metrics = checkpoint.metrics_history()
    elif initial_ranks is not None:
        # Warm start: one O(V) shuffle to align the prior ranks with the
        # hash(vid)-partitioned state, teleport mass for new vids, one
        # scalar job for the L1 normalizer. All one-time costs — the loop
        # itself is identical to a cold run.
        filled = base.join(
            initial_ranks.select("vid", F.col("value").alias("iv")),
            "vid",
            "left",
        ).select("vid", "p", "dang", F.coalesce(F.col("iv"), p_col).alias("v0"))
        # Checkpoint BEFORE the normalizer aggregate: otherwise the O(V)
        # join runs twice — once for tot_v0, again when ranks is
        # checkpointed below (ADVICE r3).
        filled = filled.localCheckpoint(eager=True)
        tot_v0 = float(filled.agg(F.sum("v0")).collect()[0][0] or 0.0)
        if not tot_v0 > 0.0:
            raise ValueError(
                f"initial_ranks total mass must be > 0 (got {tot_v0!r})"
            )
        ranks = filled.select(
            "vid", "p", "dang", (F.col("v0") / tot_v0).alias("value")
        )
    else:
        ranks = base.select("vid", "p", "dang", p_col.alias("value"))
    robs = Observation("pr_init")
    ranks = ranks.observe(
        robs, F.sum(F.when(F.col("dang"), F.col("value"))).alias("dm")
    ).localCheckpoint(eager=True)

    # Dangling mass for the first loop iteration. On resume, reuse the exact
    # value the crashed run observed (committed in the manifest) — a fresh
    # float aggregation's partial-sum order is partition-order dependent, so
    # recomputing could drift at the ulp level from the uninterrupted run
    # (ADVICE r2). Fresh runs / pre-r3 manifests read it off the initial
    # state's own materialization (the Observation above — no extra job);
    # afterwards it rides along in each iteration's Observation.
    if resumed_from is not None and metrics and "dang_mass" in metrics[-1]:
        dangling = float(metrics[-1]["dang_mass"])
    else:
        dangling = float(robs.get["dm"] or 0.0)

    converged = False
    delta = float("inf")
    # Iteration-invariant Column subtrees, built once and shared by the
    # salvage and the loop — only the dangling literal changes per iteration.
    pre = _prebuild_update_cols(p_col, alpha)

    # ---- mid-iteration salvage (north rule): a crash DURING iteration
    # start_iter+1's state write left a staging marker and a subset of its
    # hash(vid)-partitioned files. Recompute ONLY the missing hash
    # partitions — the update is filtered on pmod(hash(vid), P) so the
    # gather/agg shuffle carries just the missing share of the state — then
    # seal the iteration and continue the loop from it.
    if resume and checkpoint is not None and resumed_from is not None:
        it_s = start_iter + 1
        sal = checkpoint.staging_info(it_s)
        if sal is not None:
            done = checkpoint.staged_partitions(it_s)
            p_s = int(sal["n_partitions"])
            missing = sorted(set(range(p_s)) - set(done))
            if missing:
                # Clear the crashed write's committer debris FIRST: stale
                # committed task dirs under _temporary/0 would otherwise be
                # merged by the append job's commitJob, duplicating rows for
                # those hash partitions in the sealed state (ADVICE r2).
                checkpoint.clear_job_debris(it_s)
                new_full = _gather_update(
                    norm, ranks, p_col, alpha, dangling, has_hubs, bcast, pre,
                ).select(*STATE_COLS)
                part = F.pmod(F.hash("vid"), F.lit(p_s))
                new_full.filter(part.isin(missing)).repartition(
                    p_s, "vid"
                ).write.mode("append").parquet(checkpoint.state_path(it_s))
            state = checkpoint.read(spark, it_s).select(*STATE_COLS)
            row = (
                state.withColumnRenamed("value", "nv")
                .join(ranks.select("vid", "value"), "vid")
                .agg(
                    F.sum(F.abs(F.col("nv") - F.col("value"))).alias("delta"),
                    F.sum(F.when(F.col("dang"), F.col("nv"))).alias("dm"),
                )
                .collect()[0]
            )
            delta = float(row["delta"] or 0.0)
            dangling = float(row["dm"] or 0.0)
            m = _iter_metrics(it_s, delta, 0.0, n_edges, n, dangling)
            m["salvaged_partitions"] = len(missing)
            metrics.append(m)
            checkpoint.commit(it_s, m, list(state.columns))
            start_iter = it_s
            ranks = state
            if delta < tol:
                converged = True

    it = start_iter
    prev_cached = ranks
    loop_start = (max_iter + 1) if converged else (start_iter + 1)
    # Observation aggregates, built once.
    obs_delta = F.sum("diff").alias("delta")
    obs_dang = F.sum(F.when(F.col("dang"), F.col("value"))).alias("dang_mass")
    for it in range(loop_start, max_iter + 1):
        t0 = time.monotonic()
        new_ranks = _gather_update(
            norm, ranks, p_col, alpha, dangling, has_hubs, bcast, pre,
        )
        obs = Observation(f"pr_{it}")
        # Observe BELOW the slimming select: the delta/dangling metrics ride
        # the same job, but the materialized state excludes the transient
        # ``diff`` column (less block-write traffic per iteration).
        staged = new_ranks.observe(obs, obs_delta, obs_dang).select(*STATE_COLS)

        if checkpoint is not None:
            # Stage marker + hash(vid) alignment: the explicit repartition
            # pins file part-index == pmod(hash(vid), P) so a crash between
            # here and commit() is recoverable per-partition (salvage
            # above). In shuffled-state mode the update join already left
            # the rows hash(vid)-partitioned, so the exchange collapses; in
            # broadcast-state mode it moves only the O(V) state.
            checkpoint.stage_marker(it, P)
            checkpoint.write_data(staged.repartition(P, "vid"), it)
            vals = obs.get
            delta = float(vals["delta"] or 0.0)
            dangling = float(vals["dang_mass"] or 0.0)
            wall = time.monotonic() - t0
            m = _iter_metrics(it, delta, wall, n_edges, n, dangling)
            metrics.append(m)
            checkpoint.commit(it, m, list(staged.columns))
            # The parquet snapshot is now the state of record — release the
            # prior iteration's localCheckpoint blocks (ADVICE r1: the
            # initial state otherwise stays pinned for the whole run).
            if prev_cached is not None:
                prev_cached.unpersist()
                prev_cached = None
            ranks = checkpoint.read(spark, it).select(*STATE_COLS)
        else:
            cached = staged.localCheckpoint(eager=True)
            vals = obs.get
            delta = float(vals["delta"] or 0.0)
            dangling = float(vals["dang_mass"] or 0.0)
            wall = time.monotonic() - t0
            metrics.append(_iter_metrics(it, delta, wall, n_edges, n, dangling))
            if prev_cached is not None:
                prev_cached.unpersist()
            prev_cached = cached
            ranks = cached.select(*STATE_COLS)

        if delta < tol:
            converged = True
            break

    norm.unpersist()
    base.unpersist()
    # API stability: vids go back out as long regardless of the internal
    # narrowing decision.
    out = ranks.select(F.col("vid").cast("long").alias("vid"), "value")
    return PageRankResult(out, it, converged, delta, metrics, resumed_from)


def pagerank_delta(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 500,
    weighted: bool = True,
    personalization: DataFrame | None = None,
    initial_ranks: DataFrame | None = None,
    frontier_c: float = 0.8,
    tail_c: float | None = 0.25,
    tail_trigger_frac: float = 0.125,
) -> PageRankResult:
    """Frontier-filtered (push/residual) PageRank — same fixpoint as
    ``pagerank``, but each round gathers only from the vertices whose
    pending rank change exceeds a mass-derived threshold, so the
    convergence tail costs O(frontier edges) per round instead of the
    dense loop's unconditional O(E) (VERDICT r3 item 2; delta semantics
    are public knowledge — GraphLab's delta-PageRank / Gauss–Seidel push
    methods, Andersen–Chung–Lang 2006).

    **Exact invariant, not an approximation.** State is (value, resid)
    with the invariant  v* = value + (I - alpha*G)^-1 resid  where G is
    the column-stochastic transition (out-edge split + dangling->teleport
    column), v* the damped-PageRank fixpoint. A push moves a vertex's
    residual into its value and sends alpha*G-weighted shares into its
    neighbors' residuals — the invariant is preserved EXACTLY at every
    step, for any activation choice, so thresholding changes which work
    happens when, never the answer. Remaining error is bounded by the
    unpushed mass:  ||v* - value||_1 <= (R + |D|)/(1 - alpha)  with R the
    residual L1 mass and D the pending dangling scalar; the loop stops at
    R + |D| <= tol*(1-alpha), guaranteeing ||v* - value||_1 <= tol.
    Fixpoint equality vs the dense loop is tested at 1e-9
    (test_pagerank_delta.py).

    **Frontier rule** (``frontier_c``): a round activates every vertex
    with |resid| > c*(R+|D|)*outdeg(v)/m — the push threshold is
    proportional to the vertex's OUT-DEGREE (Andersen–Chung–Lang's
    cost-aware criterion: a hub only pays its many-edge gather when its
    residual carries enough mass per edge; dangling vertices have
    threshold 0 — their push gathers no edges at all). Inactive vertices
    hold < c*(R+|D|)*sum(outdeg)/m = c*(R+|D|) total, so a round pushes
    > (1-c) of the mass and the recurrence gives
    R' <= R*(1 - (1-alpha)(1-c)) — guaranteed geometric convergence for
    any c in [0, 1). c=0 pushes everything (dense-equivalent rounds).
    Measured on a bench-family link graph (V=73k, E=173k, alpha=0.85,
    tol=1e-6): cold-start total edges gathered vs
    the dense loop's iterations*E is 0.63x at c=0.5, 0.48x at c=0.8 (the
    default), 0.41x at c=0.9 — a >=2x gather reduction at c>=0.8 — at
    ~1.7-1.8x the round count. At 100 TB this is the difference between every iteration
    paying the full O(E) shuffle and the long convergence tail paying
    only for the vertices still moving; warm starts concentrate the
    frontier further (the incremental-fold case gathers almost nothing).

    **Dangling algebra, exact but deferred one round.** Active dangling
    vertices' pushed mass distributes alpha*r*p(d) to EVERY vertex — a
    rank-one update carried as the driver scalar D (observed in the same
    job as the round, no extra pass) and folded into every residual at
    the NEXT round's update. The invariant holds with the effective
    residual (resid + D*p), so deferral delays arrival by one round
    without changing the fixpoint; D participates in the stopping bound.

    **Per-round cost**: one Spark job (gather join on the frontier ->
    push aggregation -> state update; R / dangling / frontier-edge-count
    all observed on that same job). The edge table shuffles once before
    the loop (same ``_prepare_edges`` as the dense path); per round only
    O(frontier) state rows move.

    ``initial_ranks`` warm start: one full O(E) gather computes the true
    equation residual of the prior vector, after which only the vertices
    the graph update actually disturbed carry mass — the natural partner
    of ``engine.incremental``'s daily folds.

    **Adaptive tail schedule** (``tail_c``, VERDICT r4 item 4): a high c
    maximizes gather reduction but converges at the slow guaranteed rate
    (1 - (1-alpha)(1-c) per round) — at bench scale the long tail of tiny
    rounds is then dominated by the fixed per-job floor, and the r4 bench
    measured the c=0.8 run SLOWER than dense (148 rounds vs 71 iters)
    despite gathering 2.11x fewer edges. So once the frontier has shrunk
    below ``tail_trigger_frac * E`` (the same point at which bucket scan
    pruning makes per-round gathers cheap), the schedule drops c to
    ``tail_c``: tail rounds push more of the remaining mass each (rate
    >= 1 - (1-alpha)(1-tail_c), near-dense at 0.25) so the tail takes
    ~3x fewer rounds, while the early rounds — where E-sized gathers are
    the real cost — keep the aggressive filter. Activation choice never
    affects the fixpoint (see above), so this is pure scheduling: the
    1e-9 dense-equality test holds for any (frontier_c, tail_c).
    ``tail_c=None`` pins c to ``frontier_c`` for the whole run (the
    pre-r5 schedule). At true cluster scale the job floor is noise and a
    large E makes gather reduction dominate — set ``tail_c`` closer to
    ``frontier_c`` there; the crossover is measured in
    tools/scaling_bench.py.

    Returns ``PageRankResult``; ``metrics`` rows carry ``frontier_edges``
    and the effective ``c`` per round; ``edges_gathered`` holds the run
    total (the dense equivalent is iterations * n_edges).
    """
    if not (0.0 <= frontier_c < 1.0):
        raise ValueError(f"frontier_c must be in [0, 1), got {frontier_c}")
    if tail_c is not None and not (0.0 <= tail_c < 1.0):
        raise ValueError(f"tail_c must be in [0, 1) or None, got {tail_c}")
    with iterative_conf(spark, loop_rows=edges.count()):
        return _delta_loop(
            spark, edges, vertices, alpha, tol, max_iter, weighted,
            personalization, initial_ranks, frontier_c,
            tail_c, tail_trigger_frac,
        )


def _delta_loop(
    spark, edges, vertices, alpha, tol, max_iter, weighted,
    personalization, initial_ranks, frontier_c,
    tail_c=None, tail_trigger_frac=0.125,
):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    norm, out_vids, _ = _prepare_edges(edges, weighted, None, 16, P)
    # Bucket column for tail-round scan pruning. _prepare_edges left norm
    # hash(src)-partitioned into P partitions (pmod(hash(src), P) — the
    # same identity the checkpoint salvage protocol relies on); the bucket
    # key refines that to K = 64*P sub-buckets, CONSISTENT with the
    # partitioning (bkt % P = partition id), and sortWithinPartitions
    # clusters each partition into contiguous bkt runs. Cached columnar
    # batches then carry tight min/max stats on bkt, so a literal
    # bkt IN (...) filter lets the in-memory scan skip every batch holding
    # no frontier vertex — late rounds with a handful of active vertices
    # probe a handful of batches instead of all of E. The sort is one-time,
    # in-partition (no shuffle), and ordering does not disturb the
    # HashPartitioning(src) the gather join credits.
    K = 64 * P
    norm = norm.withColumn(
        "bkt", F.pmod(F.hash("src"), F.lit(K))
    ).sortWithinPartitions("bkt")
    norm.persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = norm.count()

    if vertices is None:
        vids = (
            edges.select(F.col("src").alias("vid"))
            .unionByName(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    else:
        vids = vertices.select("vid")

    if personalization is not None:
        tot = personalization.agg(F.sum("mass")).collect()[0][0]
        if tot is None or not (float(tot) > 0.0):
            raise ValueError(
                f"personalization mass must sum > 0 (got {tot!r})"
            )
        base = vids.join(personalization, "vid", "left").select(
            "vid",
            (F.coalesce(F.col("mass"), F.lit(0.0)) / F.lit(float(tot))).alias("p"),
        )
    else:
        base = vids.select("vid", F.lit(None).cast("double").alias("p"))
    # Static out-degree column: drives the cost-aware activation threshold
    # (theta_v proportional to odeg) and doubles as the dangling flag
    # (odeg == 0). One O(E) partial-aggregated pass, before the loop.
    odeg = norm.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    base = (
        base.join(odeg.withColumnRenamed("src", "vid"), "vid", "left")
        .select(
            "vid", "p",
            F.coalesce(F.col("odeg"), F.lit(0)).alias("odeg"),
            (F.col("odeg").isNull()).alias("dang"),
        )
        .repartition(P, "vid")
        .localCheckpoint(eager=True)
    )
    n = base.count()
    if n == 0:
        norm.unpersist()
        base.unpersist()
        return PageRankResult(
            vids.select(
                F.col("vid").cast("long").alias("vid"), F.lit(0.0).alias("value")
            ),
            0, True, 0.0,
        )
    p_col = F.coalesce(F.col("p"), F.lit(1.0 / n))
    bcast = F.broadcast if n <= BROADCAST_STATE_MAX_V else (lambda df: df)

    sobs = Observation("prd_init")
    resid_mass = F.sum(F.abs(F.col("resid"))).alias("rm")
    if initial_ranks is None:
        # Cold start: value = 0, resid = the constant term (1-alpha)p.
        state = base.select(
            "vid", "p", "dang", "odeg",
            F.lit(0.0).alias("value"),
            ((1.0 - alpha) * p_col).alias("resid"),
        ).observe(sobs, resid_mass).localCheckpoint(eager=True)
    else:
        # Warm start: resid0 = (1-alpha)p + alpha*G v0 - v0, the exact
        # equation residual of the prior vector — one full O(E) gather,
        # after which the frontier is only what the graph change disturbed.
        vobs = Observation("prd_warm")
        v0 = (
            base.join(
                initial_ranks.select("vid", F.col("value").alias("iv")),
                "vid", "left",
            )
            .select(
                "vid", "p", "dang", "odeg",
                F.coalesce("iv", F.lit(0.0)).alias("value"),
            )
            .observe(
                vobs,
                F.sum(F.when(F.col("dang"), F.col("value"))).alias("dm"),
            )
            .localCheckpoint(eager=True)
        )
        dang0 = float(vobs.get["dm"] or 0.0)
        contribs = (
            norm.join(bcast(v0.select(F.col("vid").alias("src"), "value")), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("cw") * F.col("value")).alias("c"))
        )
        state = (
            v0.join(bcast(contribs.withColumnRenamed("dst", "vid")), "vid", "left")
            .select(
                "vid", "p", "dang", "odeg", "value",
                (
                    (1.0 - alpha) * p_col
                    + alpha * (F.coalesce(F.col("c"), F.lit(0.0)) + dang0 * p_col)
                    - F.col("value")
                ).alias("resid"),
            )
            .observe(sobs, resid_mass)
            .localCheckpoint(eager=True)
        )
        v0.unpersist()
    base.unpersist()

    # Initial residual mass rides the state materialization (no extra job).
    R = float(sobs.get["rm"] or 0.0)
    D = 0.0  # dangling mass pushed last round (alpha-scaled), lands next round
    stop = tol * (1.0 - alpha)
    converged = False
    total_gathered = 0
    last_gathered: int | None = None
    next_bkts: list[int] | None = None
    # Next-round bucket pruning bar (observed for free in each round's
    # job, replacing the r4 shape's extra collect job per tail round).
    # The bar must sit AT OR BELOW the next round's activation threshold
    # for the observed bucket set to cover the frontier; conversely the
    # next round's effective threshold is clamped UP to the bar
    # (activation choice never affects the fixpoint, so the clamp is
    # exact — it can only delay mass, and only in the rare round where
    # the residual mass collapses more than 4x at once; the bar then
    # recalibrates off the new mass, so a stall never persists).
    c_min = frontier_c if tail_c is None else min(frontier_c, tail_c)
    bkt_bar = 0.0
    metrics: list[dict[str, Any]] = []
    rounds = 0
    # Round-invariant Column subtrees, built once (same trees as the
    # historical inline forms — only the per-round scalars are grafted in
    # below; cuts ~0.1s/round of py4j expression building).
    abs_resid = F.abs(F.col("resid"))
    odeg_col = F.col("odeg")
    src_cols = (F.col("vid").alias("src"), F.col("resid").alias("r"))
    push_agg = F.sum(F.col("cw") * F.col("r") * alpha).alias("c")
    value_expr = (
        F.col("value") + F.when(F.col("act"), F.col("resid")).otherwise(0.0)
    ).alias("value")
    resid_base = F.when(F.col("act"), F.lit(0.0)).otherwise(
        F.col("resid")
    ) + F.coalesce(F.col("c"), F.lit(0.0))
    dpush_expr = (
        F.when(F.col("act") & F.col("dang"), F.col("resid"))
        .otherwise(0.0)
        .alias("dpush")
    )
    obs_r = F.sum(F.abs(F.col("resid"))).alias("R")
    obs_dp = F.sum("dpush").alias("dp")
    vid_bkt = F.pmod(F.hash("vid"), F.lit(K))
    gather_cnt = F.count(F.lit(1)).alias("gathered")
    while rounds < max_iter:
        if R + abs(D) <= stop:
            converged = True
            break
        rounds += 1
        t0 = time.monotonic()
        # Cost-aware threshold: theta_v = c * mass * odeg/m. Sum over all
        # vertices = c * mass, so inactive vertices hold < c of the mass
        # (the geometric guarantee); a vertex's bar to push scales with
        # how many edges its push costs. odeg=0 (dangling) => bar 0: their
        # push feeds only the scalar D and gathers nothing.
        # Adaptive tail: once the frontier is small (same trigger family
        # as bucket pruning), drop c so tail rounds push near-dense
        # fractions of the remaining mass — ~3x fewer job-floor-priced
        # rounds for gathers that are cheap there anyway (see docstring).
        c_r = frontier_c
        if (
            tail_c is not None
            and last_gathered is not None
            and last_gathered < n_edges * tail_trigger_frac
        ):
            c_r = min(frontier_c, tail_c)
        theta = max(c_r * (R + abs(D)) / max(n_edges, 1), bkt_bar)
        active = abs_resid > theta * odeg_col
        # Bar for the NEXT round's pruning superset, observed below: a
        # conservative prediction of next round's threshold — c_min times
        # a quarter of the current mass (mass rarely contracts 4x in one
        # round; floored at the stopping mass, under which the loop ends).
        bkt_bar = c_min * max(stop, 0.25 * (R + abs(D))) / max(n_edges, 1)
        src_side = state.filter(active).select(*src_cols)
        # Tail-round scan pruning: once the previous round's frontier shrank
        # below 1/8 of E, filter the edge scan to the frontier's bucket
        # list — the in-memory scan skips every other partition via batch
        # stats. The list is a SUPERSET observed for free during the
        # PREVIOUS round's job (see the staged observe below): any active
        # vertex must clear theta*odeg = c*(R+|D|)*odeg/m > c_min*stop*
        # odeg/m while the loop is running, so buckets of vertices above
        # that literal bar cover every possible frontier — no extra
        # collect job (the r4 shape spent one per tail round).
        edge_side = norm
        pruned_buckets = None
        if (
            next_bkts is not None
            and last_gathered is not None
            and last_gathered < n_edges // 8
            # engage only when the frontier covers a minority of buckets
            # (a near-full IN-list would cost codegen for no skipped batch)
            and len(next_bkts) * 4 <= K
        ):
            edge_side = norm.filter(F.col("bkt").isin(next_bkts))
            pruned_buckets = len(next_bkts)
        gobs = Observation(f"prd_g_{rounds}")
        gathered = edge_side.join(bcast(src_side), "src").observe(
            gobs, gather_cnt
        )
        pushes = gathered.groupBy("dst").agg(push_agg)
        obs = Observation(f"prd_{rounds}")
        staged = (
            state.join(bcast(pushes.withColumnRenamed("dst", "vid")), "vid", "left")
            .withColumn("act", active)
            .select(
                "vid", "p", "dang", "odeg",
                value_expr,
                (resid_base + F.lit(D) * p_col).alias("resid"),
                dpush_expr,
            )
            .observe(
                obs,
                obs_r,
                obs_dp,
                # Next round's pruning superset, observed for free in this
                # same job: buckets of every vertex that can clear the
                # predicted next-round bar (the next threshold is clamped
                # up to this bar, so coverage is exact by construction).
                F.collect_set(
                    F.when(abs_resid > F.lit(bkt_bar) * odeg_col, vid_bkt)
                ).alias("nbkts"),
            )
            .select("vid", "p", "dang", "odeg", "value", "resid")
        )
        new_state = staged.localCheckpoint(eager=True)
        vals = obs.get
        R = float(vals["R"] or 0.0)
        D = alpha * float(vals["dp"] or 0.0)
        next_bkts = list(vals["nbkts"] or [])
        g = int(gobs.get["gathered"] or 0)
        total_gathered += g
        last_gathered = g
        wall = time.monotonic() - t0
        m = {
            "iter": rounds,
            "resid_mass": R + abs(D),
            "frontier_edges": g,
            "wall_s": wall,
            "edges_per_s": g / wall if wall > 0 else None,
            "n_edges": n_edges,
            "n_vertices": n,
            "c": c_r,
        }
        if pruned_buckets is not None:
            m["pruned_buckets"] = pruned_buckets
        metrics.append(m)
        prev = state
        state = new_state
        prev.unpersist()
    if not converged and R + abs(D) <= stop:
        converged = True

    norm.unpersist()
    out = state.select(F.col("vid").cast("long").alias("vid"), "value")
    return PageRankResult(
        out, rounds, converged, R + abs(D), metrics,
        edges_gathered=total_gathered,
    )


def _iter_metrics(
    it: int, delta: float, wall: float, n_edges: int, n: int,
    dang_mass: float | None = None,
) -> dict:
    m = {
        "iter": it,
        "l1_delta": delta,
        "wall_s": wall,
        "edges_per_s": n_edges / wall if wall > 0 else None,
        "n_edges": n_edges,
        "n_vertices": n,
    }
    if dang_mass is not None:
        # Committed so a resumed run reuses the exact observed value
        # rather than re-deriving it via a differently-ordered float sum.
        m["dang_mass"] = dang_mass
    return m

