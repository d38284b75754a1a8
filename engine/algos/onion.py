"""Onion decomposition — peel layers refining the k-core structure.

Hébert-Dufresne, Grochow & Allard, "Multi-scale structure and topological
anomaly detection via a new network statistic: The onion decomposition",
Scientific Reports 6, 31708 (2016). The k-core number says how deep a
vertex sits; the onion LAYER says how it got there — the round of the
peeling process that removed it. Core-periphery profiles, anomaly
detection (a vertex with high core but early layer is anomalously
loosely attached inside its shell), and percolation-accurate network
summaries all read the (core, layer) pair together. Completes this
engine's core-periphery family next to coreness (engine/algos/kcore.py,
which deliberately uses the h-index fixpoint and therefore never sees
the peeling order).

Batch semantics == networkx.onion_layers exactly: each round removes
EVERY remaining vertex with degree <= current_core (the layer is decided
by the degree snapshot at round start, so nx's sequential sweep and this
synchronous batch produce identical layers), the core ratchets up to the
minimum remaining degree, and layers number contiguously from 1
(isolated vertices, visible only when ``vertices`` is supplied, are
layer 1 / core 0, and shift the peeling to layer 2 — the nx convention).
Self-loops: nx refuses them; the engine's simple view drops them, like
every other shape statistic here (oracle tests compare against nx on the
de-looped graph).

Spark shape (the classic Batagelj–Zaversnik peel is a sequential
priority queue — this is the set-oriented form):

- the symmetric simple adjacency is hash-partitioned ONCE by the
  neighbor column and persisted; it never reshuffles;
- state (vid, deg) is the only evolving table; each round costs ONE
  scalar action (count + min degree — the stop/core decision) and ONE
  eager checkpoint of the shrunken state;
- degree maintenance is FRONTIER-COST: only edges incident to the
  just-peeled layer flow through the decrement groupBy (the static
  adjacency joins the peel co-partitioned), so the total decrement
  volume across ALL rounds is exactly O(E);
- peeled layers accumulate as lazy projections of the checkpointed
  states and are folded into one checkpointed result every
  ``FOLD_EVERY`` rounds, releasing the superseded state blocks — the
  no-outliving-persists policy with O(FOLD_EVERY * V) peak state.

Round count is the number of onion layers — tens on power-law link
graphs (layers <= O(core_max * effective-diameter-ish bands)), O(V) on
an adversarial path graph, which is the same lower bound any
distributed peeling has (kcore.py's docstring discusses it).
``max_rounds`` caps pathological inputs; truncation reports
``converged=False`` honestly and returns the layers actually peeled.

Oracle: ``networkx.onion_layers`` whole-dict exact AND the ``core``
column == ``networkx.core_number`` exact (the ratcheted core at peel
time IS the core number — Batagelj–Zaversnik invariant), plus
isolated-vertex, truncation and invariance tests (tests/test_onion.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import fresh_checkpoint, iterative_conf

FOLD_EVERY = 16  # rounds between result folds (bounds live checkpoints)


@dataclass
class OnionResult:
    layers: DataFrame  # (vid, layer, core)
    rounds: int
    converged: bool


def onion_layers(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 10_000,
) -> OnionResult:
    """Per-vertex onion layer + core number of the undirected simple view.

    ``vertices`` (optional, one ``vid`` column) adds edge-less vertices,
    which nx assigns layer 1 / core 0. ``max_rounds`` truncation returns
    the peeled prefix with ``converged=False``."""
    if max_rounds < 1:
        raise ValueError(f"onion_layers: max_rounds must be >= 1, got {max_rounds}")
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .repartition(P, "v")
        .persist()
    )
    state = fresh_checkpoint(
        adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("u").alias("vid"), "deg")
        .repartition(P, "vid")
    )

    out_schema = "vid long, layer int, core int"
    done = spark.createDataFrame([], out_schema)
    current_layer = 1
    if vertices is not None:
        isolated = (
            vertices.select("vid").distinct()
            .join(state.select("vid"), "vid", "left_anti")
            .select("vid", F.lit(1).alias("layer"), F.lit(0).alias("core"))
        )
        n_iso = isolated.count()
        if n_iso:
            done = fresh_checkpoint(
                done.unionByName(isolated.selectExpr(
                    "cast(vid as long) vid", "layer", "core"))
            )
            current_layer = 2

    with iterative_conf(spark):
        core = 1
        rounds = 0
        converged = False
        pending: list[DataFrame] = []     # lazy peels of live checkpoints
        backing: list[DataFrame] = []     # their superseded state frames

        def fold(done: DataFrame) -> DataFrame:
            if not pending:
                return done
            acc = done
            for p in pending:
                acc = acc.unionByName(p)
            acc = fresh_checkpoint(acc)
            for s in backing:
                s.unpersist()
            pending.clear()
            backing.clear()
            return acc

        while rounds < max_rounds:
            row = state.agg(
                F.count(F.lit(1)).alias("n"), F.min("deg").alias("mind")
            ).collect()[0]
            if int(row["n"]) == 0:
                converged = True
                break
            rounds += 1
            mind = int(row["mind"])
            if mind > core:
                core = mind
            peel = state.filter(F.col("deg") <= core)
            pending.append(
                peel.select(
                    F.col("vid").cast("long").alias("vid"),
                    F.lit(current_layer).alias("layer"),
                    F.lit(core).alias("core"),
                )
            )
            dec = (
                adj.join(peel.select(F.col("vid").alias("v")), "v")
                .groupBy("u")
                .agg(F.count(F.lit(1)).alias("d"))
                .select(F.col("u").alias("vid"), "d")
            )
            new_state = fresh_checkpoint(
                state.filter(F.col("deg") > core)
                .join(dec, "vid", "left")
                .select(
                    "vid",
                    (F.col("deg") - F.coalesce("d", F.lit(0))).alias("deg"),
                )
            )
            backing.append(state)
            state = new_state
            current_layer += 1
            if len(pending) >= FOLD_EVERY:
                done = fold(done)
        if not converged and state.limit(1).count() == 0:
            converged = True  # emptied exactly on the max_rounds-th round
        done = fold(done)
    adj.unpersist()
    state.unpersist()
    return OnionResult(layers=done, rounds=rounds, converged=converged)
