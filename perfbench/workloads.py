"""The benchmark's three workloads, each a single client in a closed loop.

- ``ingest``: the write path. Hash check, ``build_graph`` with co-occurrence,
  then a fixed number of ~1% ``update_graph`` folds, per pass.
- ``converge``: batch scoring on a persisted structural graph. PageRank to
  tol 1e-6 with a per-iteration ``RunCheckpoint``, stopped at a fixed
  iteration and finished with ``resume=True``; then CC and LPA.
- ``context_mix``: ``context_query`` reads with a small fold every few
  queries; later queries read the folded graph.

The workload seed goes into ``source_files`` and the topic sampler; the
engine only ever sees the generated inputs. Every engine call is an *op*:
it is timed in a span, counted as attempted, and its output is checked
(checks run outside the timed spans).
"""

from __future__ import annotations

import random
import shutil
import statistics
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from engine.algos.cc import connected_components
from engine.algos.lpa import label_propagation
from engine.algos.pagerank import pagerank
from engine.algos.query import context_query
from engine.datagen import source_files
from engine.derive import (
    COOCCUR_CAP,
    build_graph,
    derive_name_edges,
    hash_invariant_violations,
)
from engine.graph import assign_vertex_ids, encode_edges
from engine.incremental import initial_state, update_graph
from engine.io import RunCheckpoint

from perfbench import checks
from perfbench.spans import MIB, Tracer


@dataclass(frozen=True)
class Sizes:
    ingest_rows: int = 10_000
    converge_rows: int = 6_000
    mix_rows: int = 6_000
    rows_per_repo: int = 100
    # Many small repos: PageRank then converges in a seed-independent
    # number of iterations (14 at 6k rows) — 100 rows/repo varies 44-50.
    converge_rows_per_repo: int = 6
    fold_frac: float = 0.01
    ingest_folds: int = 2
    mix_folds: int = 4  # fold batches generated for context_mix
    queries_per_fold: int = 4
    stop_iter: int = 6  # PageRank leg 1 stops here; leg 2 resumes
    lpa_iters: int = 3
    tol: float = 1e-6

    def repos(self, rows: int, per: int | None = None) -> int:
        return max(10, rows // (per or self.rows_per_repo))


def persisted(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def cached_mib(sc) -> float:
    """Spark storage footprint (memory plus disk) of all cached RDDs."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()) / MIB


def median(xs):
    return statistics.median(xs) if xs else 0.0


@dataclass
class Ctx:
    """Run state shared by the workload and the metric code."""

    spark: object
    tracer: Tracer
    traced: bool
    seed: int
    sizes: Sizes
    out_dir: str
    attempted: int = 0
    failed_ops: set = field(default_factory=set)
    problems: list = field(default_factory=list)
    peak_cached_mib: float = 0.0
    extra: dict = field(default_factory=dict)

    def op(self, name: str, fn, **attrs):
        """Run one engine call in a span; count it; sample cached state."""
        with self.tracer.span(name, op=True, **attrs) as rec:
            self.attempted += 1
            try:
                out = fn()
            except Exception as exc:
                self.failed_ops.add(rec["id"])
                self.problems.append(f"{name}: raised {exc!r}")
                raise
        self.peak_cached_mib = max(self.peak_cached_mib, cached_mib(self.spark.sparkContext))
        return out, rec

    def check(self, rec: dict, problems: list[str]) -> None:
        if problems:
            self.failed_ops.add(rec["id"])
            self.problems.extend(f"{rec['name']}#{rec['id']}: {p}" for p in problems)

    def op_seconds(self, parent_name: str) -> list[float]:
        """Per ``parent_name`` span: the summed duration of its op children."""
        sp = self.tracer.spans
        return [
            sum(c["end"] - c["start"] for c in sp if c["parent"] == p["id"] and c.get("op"))
            for p in sp if p["name"] == parent_name and p["end"] is not None
        ]


# ---- shared steps ---------------------------------------------------------

def gen_inputs(ctx: Ctx, rows: int, folds: int = 0, with_content: bool = True,
               rows_per_repo: int | None = None):
    """(corpus, fold batches) from ONE seeded ``source_files`` call: each
    batch is a disjoint ~fold_frac slice of the rows, split off by a hash of
    the row key, and the corpus is the rest."""
    s = ctx.sizes
    total = int(rows * (1 + folds * s.fold_frac))
    allrows, _ = ctx.op("datagen.source_files", lambda: persisted(
        source_files(ctx.spark, total, s.repos(rows, rows_per_repo), seed=ctx.seed,
                     with_content=with_content)
        .withColumn("_u", F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(1 << 30))
                    / float(1 << 30))))
    cut = folds * s.fold_frac / (1 + folds * s.fold_frac)
    per = cut / folds if folds else 0.0
    corpus = allrows.filter(F.col("_u") >= cut).drop("_u")
    batches = [allrows.filter((F.col("_u") >= k * per) & (F.col("_u") < (k + 1) * per))
               .drop("_u") for k in range(folds)]
    return corpus, batches


def build(ctx: Ctx, src, include_cooccur: bool, check: bool = True):
    """``build_graph`` plus materializing its edges. Traced runs make the
    same calls in build_graph's order and persistence, one span per layer;
    the only addition is a count that materializes the name edges, so the
    derive work is not billed to vid assignment."""
    def untraced():
        v, e = build_graph(src, include_cooccur=include_cooccur)
        return v, persisted(e)

    def split():
        t = ctx.tracer
        with t.span("derive.name_edges"):
            ne = persisted(derive_name_edges(src, COOCCUR_CAP, include_cooccur))
        with t.span("graph.assign_vids"):
            names = ne.select(F.col("src_name").alias("name")).unionByName(
                ne.select(F.col("dst_name").alias("name")))
            v = assign_vertex_ids(names).persist(StorageLevel.MEMORY_AND_DISK)
        with t.span("graph.encode"):
            e = persisted(encode_edges(ne, v))
        return v, e

    (v, e), rec = ctx.op("derive.build_graph", split if ctx.traced else untraced)
    if check:
        ctx.check(rec, checks.graph_problems(v, e))
    return v, e


def bootstrap_state(ctx: Ctx, src):
    def run():
        v, e, ne, m = initial_state(src)
        return v, persisted(e), ne, persisted(m)

    state, _ = ctx.op("incremental.initial_state", run)
    return state


def fold(ctx: Ctx, state, batch, check: bool = True):
    v, _, ne, m = state

    def run():
        v2, e2, ne2, m2 = update_graph(v, ne, m, batch)
        return v2, persisted(e2), ne2, m2

    new, rec = ctx.op("incremental.fold", run)
    if check:
        ctx.check(rec, checks.graph_problems(new[0], new[1]))
    return new


class PassHygiene:
    """Releases what a pass persisted, so every pass starts from the same
    cached state (the pass's peak is still sampled by ``Ctx.op``)."""

    def __init__(self, sc):
        self._sc = sc
        self._before = set(sc._jsc.getPersistentRDDs().keys())

    def release(self) -> None:
        live = self._sc._jsc.getPersistentRDDs()
        for k in list(live.keys()):
            if k not in self._before:
                live[k].unpersist(True)


# ---- workloads --------------------------------------------------------------

class Ingest:
    name = "ingest"
    passes = 1

    def setup(self, ctx: Ctx) -> None:
        s = ctx.sizes
        self.src, self.batches = gen_inputs(ctx, s.ingest_rows, s.ingest_folds)
        self.state = bootstrap_state(ctx, self.src)

    def one_pass(self, ctx: Ctx, k: int) -> bool:
        hygiene = PassHygiene(ctx.spark.sparkContext)
        bad, rec = ctx.op("derive.hash_check", lambda: hash_invariant_violations(self.src))
        ctx.check(rec, checks.hash_problems(bad))
        build(ctx, self.src, include_cooccur=True)
        state = self.state
        for i, b in enumerate(self.batches):
            state = fold(ctx, state, b, check=i == len(self.batches) - 1)
        hygiene.release()
        return True

    def step_seconds(self, ctx: Ctx) -> list[float]:
        return _timed(ctx, "incremental.fold")

    def named(self, ctx: Ctx) -> dict:
        rows = ctx.sizes.ingest_rows
        ingest = [h + b for h, b in zip(_timed(ctx, "derive.hash_check"),
                                        _timed(ctx, "derive.build_graph"))]
        return {
            "ingest_rows_per_s": (rows / median(ingest), "rows/s"),
            "fold_s_p50": (median(_timed(ctx, "incremental.fold")), "s"),
        }


class Converge:
    name = "converge"
    passes = 1

    def setup(self, ctx: Ctx) -> None:
        s = ctx.sizes
        src, _ = gen_inputs(ctx, s.converge_rows, with_content=False,
                            rows_per_repo=s.converge_rows_per_repo)
        self.v, self.e = build(ctx, src, include_cooccur=False, check=False)
        self.n_edges = self.e.count()
        ctx.extra.update(pr_legs=[], io=[])
        # A few checkpointed iterations first, so the timed loop runs warm.
        ck = RunCheckpoint(f"{ctx.out_dir}/ckpt", run_id="warmup", spark=ctx.spark)
        ctx.op("pagerank.pagerank", lambda: pagerank(
            ctx.spark, self.e, vertices=self.v, tol=s.tol, max_iter=3, checkpoint=ck))
        shutil.rmtree(ck.dir, ignore_errors=True)

    def one_pass(self, ctx: Ctx, k: int) -> bool:
        s, spark = ctx.sizes, ctx.spark
        hygiene = PassHygiene(spark.sparkContext)
        ck = RunCheckpoint(f"{ctx.out_dir}/ckpt", run_id=f"{ctx.tracer.run_id}-p{k}", spark=spark)
        r1, rec1 = ctx.op("pagerank.pagerank", lambda: pagerank(
            spark, self.e, vertices=self.v, tol=s.tol, max_iter=s.stop_iter, checkpoint=ck),
            leg=1)
        if r1.converged or r1.iterations != s.stop_iter:
            ctx.check(rec1, [f"leg 1 ended at {r1.iterations} (converged={r1.converged}),"
                             f" not at the stop iteration {s.stop_iter}"])
        r2, rec2 = ctx.op("pagerank.pagerank", lambda: pagerank(
            spark, self.e, vertices=self.v, tol=s.tol, max_iter=500, checkpoint=ck,
            resume=True), leg=2)
        ctx.check(rec2, checks.pagerank_problems(
            r2.ranks, r2.converged, r2.l1_delta, r2.resumed_from, s.tol))
        new2 = [m for m in r2.metrics if m["iter"] > (r2.resumed_from or 0)]
        ctx.extra["pr_legs"].append({
            "pass": k, "iterations": r2.iterations,
            "leg1_s": rec1["end"] - rec1["start"], "leg2_s": rec2["end"] - rec2["start"],
            "leg1_iter_s": [m["wall_s"] for m in r1.metrics],
            "leg2_iter_s": [m["wall_s"] for m in new2],
            "spans": [rec1["id"], rec2["id"]],
        })
        manifests = [ck.manifest(i)["partitions"] for i in ck.committed_iters()]
        ctx.extra["io"].append({
            "files": sum(len(p) for p in manifests),
            "mib": sum(f["bytes"] for p in manifests for f in p) / MIB,
            "spans": [rec1["id"], rec2["id"]],
        })
        shutil.rmtree(ck.dir, ignore_errors=True)

        def cc():
            r = connected_components(spark, self.e, self.v)
            return r.rounds, persisted(r.labels)

        (rounds, labels), rec = ctx.op("cc.connected_components", cc)
        ctx.check(rec, checks.cc_problems(labels, self.e))
        ctx.extra.setdefault("cc_rounds", []).append(rounds)

        def lpa():
            return persisted(label_propagation(spark, self.e, self.v, max_iter=s.lpa_iters).labels)

        labels, rec = ctx.op("lpa.label_propagation", lpa)
        ctx.check(rec, checks.lpa_problems(labels, self.v))
        hygiene.release()
        return True

    def step_seconds(self, ctx: Ctx) -> list[float]:
        return [t for p in ctx.extra["pr_legs"] for t in p["leg1_iter_s"] + p["leg2_iter_s"]]

    def named(self, ctx: Ctx) -> dict:
        legs = ctx.extra["pr_legs"]
        return {
            "rank_s": (median([p["leg1_s"] + p["leg2_s"] for p in legs]), "s"),
            "pagerank_edges_per_s_iter": (
                self.n_edges / median(self.step_seconds(ctx)), "edges/s"),
            "cc_s": (median(_timed(ctx, "cc.connected_components")), "s"),
            "lpa_s": (median(_timed(ctx, "lpa.label_propagation")), "s"),
        }


class ContextMix:
    name = "context_mix"
    passes = 2  # each pass folds, so this also fixes the graph size read

    def setup(self, ctx: Ctx) -> None:
        s = ctx.sizes
        src, self.batches = gen_inputs(ctx, s.mix_rows, s.mix_folds)
        bad, rec = ctx.op("derive.hash_check", lambda: hash_invariant_violations(src))
        ctx.check(rec, checks.hash_problems(bad))
        self.state = bootstrap_state(ctx, src)
        self.candidates = [r.vid for r in self.state[0].filter(
            F.col("vtype").isin("repo", "path")).select("vid").orderBy("vid").collect()]
        self.rng = random.Random(ctx.seed)
        ctx.extra["rows_returned"] = []
        # One untimed-sequence query first, so the timed ones run warm.
        self.query(ctx, *self.plan(1)[0])

    def query(self, ctx: Ctx, topic: list[int], depth: int) -> None:
        spark = ctx.spark
        v, e = self.state[0], self.state[1]
        tdf = spark.createDataFrame([(t,) for t in topic], "vid long")

        def run():
            sv, se = context_query(spark, v, e, tdf, max_depth=depth)
            return sv.toPandas(), se.toPandas()

        (sv, se), rec = ctx.op("query.context_query", run, depth=depth, topic=len(topic))
        ctx.check(rec, checks.query_problems(sv, se, topic, depth))
        ctx.extra["rows_returned"].append((rec["id"], len(sv) + len(se)))

    def plan(self, q: int) -> list[tuple[list[int], int]]:
        """One cycle of ``q`` (topic, max_depth): topic sizes 1-4 and depths
        2-3 stratified so every cycle carries the same mix, in seeded order."""
        sizes = [(i % 4) + 1 for i in range(q)]
        depths = [2 + (i % 2) for i in range(q)]
        self.rng.shuffle(sizes)
        self.rng.shuffle(depths)
        return [(self.rng.sample(self.candidates, n), d) for n, d in zip(sizes, depths)]

    def one_pass(self, ctx: Ctx, k: int) -> bool:
        if k >= len(self.batches):
            return False
        for topic, depth in self.plan(ctx.sizes.queries_per_fold):
            self.query(ctx, topic, depth)
        old_e = self.state[1]
        self.state = fold(ctx, self.state, self.batches[k])
        old_e.unpersist(blocking=True)
        return True

    def step_seconds(self, ctx: Ctx) -> list[float]:
        return _timed(ctx, "query.context_query")

    def named(self, ctx: Ctx) -> dict:
        q = sorted(_timed(ctx, "query.context_query"))
        folds = _timed(ctx, "incremental.fold")
        busy = sum(ctx.op_seconds("pass"))
        out = {
            "query_p50_s": (median(q), "s"),
            "mix_ops_per_s": ((len(q) + len(folds)) / busy if busy else 0.0, "1/s"),
            "mix_fold_s_p50": (median(folds), "s"),
        }
        # Highest percentile with at least 10 samples beyond it.
        if len(q) >= 11:
            out["query_tail_s"] = (q[len(q) - 11], f"s@p{100 * (len(q) - 10) / len(q):.0f}"
                                   f"/n={len(q)}")
        else:
            out["query_tail_s"] = (None, f"s (needs 11 samples, have {len(q)})")
        return out


def _timed(ctx: Ctx, name: str) -> list[float]:
    """Durations of ``name`` op spans run inside a pass (not in set-up)."""
    sp = ctx.tracer.spans
    return [s["end"] - s["start"] for s in sp
            if s["name"] == name and s.get("op") and s["parent"] is not None
            and sp[s["parent"]]["name"] == "pass"]


WORKLOADS = {w.name: w for w in (Ingest, Converge, ContextMix)}
