"""Minimum spanning forest — set-oriented Borůvka with full contraction.

Borůvka 1926 (public knowledge; the textbook parallel MST algorithm —
see also Chung & Condon 1996 "Parallel implementation of Borůvka's MST
algorithm" for the contraction formulation used here). Each round every
component selects its minimum-weight outgoing edge under a TOTAL order
(weight, lo, hi) — the lexicographic tie-break makes the selection
pseudo-forest cycle-free except for mutual 2-cycles, which are broken
toward the smaller label — then the selection forest is collapsed with
pointer doubling and the edge table is contracted onto the surviving
component ids. Components at least halve per round, so the loop is
O(log V) rounds regardless of graph diameter; the edge table SHRINKS
monotonically (contraction collapses parallel edges to their min), unlike
a label-propagation MSF that rescans O(E) every round.

Scale notes (the 100-TB plan): every step is a groupBy-min or an
equi-join on the current component key — partial-aggregable, no windows,
no driver state beyond scalar checksums. The per-round pointer-doubling
inner loop is O(log chain-depth) joins over the COMPONENT table (≤ V/2^r
rows at round r), not the edge table. All loop state goes through
``fresh_checkpoint`` (loopstate.py) so plan stats stay bounded, and each
round releases the previous round's state.

Verum parity: the reference had no MST primitive (NetworkX toolkit,
SURVEY.md Table A); this extends the C1 connectivity family the same way
k-core/k-truss did in rounds 3-4. Oracle: ``networkx.minimum_spanning_
tree`` — exact edge-set equality under distinct weights (the MSF is then
unique), total-weight equality plus forest validity under ties
(tests/test_msf.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import fresh_checkpoint, iterative_conf


@dataclass
class MSFResult:
    edges: DataFrame  # (u, v, weight) — canonical u < v, one row per forest edge
    labels: DataFrame  # (vid, label) — label = component id at the fixpoint
    total_weight: float
    rounds: int


def _pointer_closure(ptr: DataFrame, comps: DataFrame, max_jump: int = 40) -> DataFrame:
    """Resolve every component id in ``comps`` (col ``c``) to its root under
    the selection forest ``ptr`` (c -> d, acyclic after 2-cycle breaking)
    via pointer doubling: P <- P∘P until fixpoint (no pointer moved —
    observed on each jump's own materialization, no separate checksum
    scan). Roots map to themselves.
    """
    p = fresh_checkpoint(
        comps.join(ptr, "c", "left").select(
            "c", F.coalesce("d", "c").alias("d")
        )
    )
    for _ in range(max_jump):
        obs = Observation()
        nxt = fresh_checkpoint(
            p.alias("a")
            .join(
                p.select(F.col("c").alias("d"), F.col("d").alias("dd")).alias("b"),
                "d",
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("d") != F.col("dd"), 1).otherwise(0)
                ).alias("moved"),
            )
            .select("c", F.col("dd").alias("d"))
        )
        moved = int(obs.get["moved"] or 0)
        p.unpersist()
        p = nxt
        if moved == 0:
            return p
    raise RuntimeError(
        f"pointer doubling did not converge in {max_jump} jumps — "
        "selection forest deeper than 2^40 or a cycle survived 2-cycle "
        "breaking (total-order violation)"
    )


def minimum_spanning_forest(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    weight_col: str = "weight",
    max_rounds: int = 40,
) -> MSFResult:
    """Minimum-weight spanning forest of the UNDIRECTED view of ``edges``
    (src, dst, ``weight_col``); direction is ignored, self-loops dropped,
    parallel edges collapse to their cheapest. Ties are broken by the
    total order (weight, min vid, max vid), which fixes a unique forest.
    """
    # Scale-adaptive loop partitioning (see loopstate.loop_shuffle_partitions).
    with iterative_conf(spark, loop_rows=edges.count(), row_bytes=32):
        return _boruvka(spark, edges, vertices, weight_col, max_rounds)


def _boruvka(spark, edges, vertices, weight_col, max_rounds):
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vid"))
            .unionByName(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    labels = fresh_checkpoint(
        vertices.select("vid", F.col("vid").alias("label"))
    )

    # Contracted edge table: (u, v) = current component endpoints (u < v),
    # k = (w, ou, ov) the cheapest ORIGINAL edge between them under the
    # total order — min(struct) keeps the winning original endpoints so the
    # forest reports real edges, not contracted ones.
    lo, hi = F.least("src", "dst"), F.greatest("src", "dst")
    e = fresh_checkpoint(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            lo.alias("u"),
            hi.alias("v"),
            F.struct(
                F.col(weight_col).cast("double").alias("w"),
                lo.alias("ou"),
                hi.alias("ov"),
            ).alias("k"),
        )
        .groupBy("u", "v")
        .agg(F.min("k").alias("k"))
    )

    # Per-round winning edges stay LAZY against their round's checkpointed
    # ``sel`` (kept cached until the end); the forest is unioned and
    # materialized ONCE after the loop instead of re-checkpointing a
    # growing union every round (the r5 shape).
    chosen_parts: list[DataFrame] = []
    sels: list[DataFrame] = []
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        # Per-component minimum incident edge under the total order; the
        # struct carries both endpoints so the loser side is recoverable.
        cand = e.select(
            F.col("u").alias("c"),
            F.struct(F.col("k.w"), "k.ou", "k.ov", "u", "v").alias("s"),
        ).unionByName(
            e.select(
                F.col("v").alias("c"),
                F.struct(F.col("k.w"), "k.ou", "k.ov", "u", "v").alias("s"),
            )
        )
        sobs = Observation()
        sel = fresh_checkpoint(
            cand.groupBy("c").agg(F.min("s").alias("s")).select("c", "s.*")
            .observe(sobs, F.count(F.lit(1)).alias("n"))
        )
        n_sel = int(sobs.get["n"] or 0)
        if n_sel == 0:
            sel.unpersist()
            break

        sels.append(sel)
        chosen_parts.append(
            sel.select(
                F.col("ou").alias("u"), F.col("ov").alias("v"),
                F.col("w").alias("weight"),
            ).distinct()
        )

        # Selection pseudo-forest: c points across its min edge. A cycle
        # would contain a non-minimal edge selected as some component's
        # minimum — impossible under a total order — EXCEPT the 2-cycle
        # where both endpoints pick the same edge; keep only the direction
        # into the smaller label, which becomes the merged root.
        ptr = sel.select(
            "c", F.when(F.col("u") == F.col("c"), F.col("v")).otherwise(F.col("u")).alias("d")
        )
        rev = ptr.select(F.col("d").alias("c"), F.col("c").alias("d"))
        mutual_keep_root = ptr.join(rev, ["c", "d"], "left_semi").filter(
            F.col("c") < F.col("d")
        )
        ptr = ptr.join(mutual_keep_root, ["c", "d"], "left_anti")

        comps = e.select(F.col("u").alias("c")).unionByName(
            e.select(F.col("v").alias("c"))
        ).distinct()
        roots = _pointer_closure(ptr, comps)

        new_labels = fresh_checkpoint(
            labels.join(
                roots.select(F.col("c").alias("label"), F.col("d").alias("root")),
                "label",
                "left",
            ).select("vid", F.coalesce("root", "label").alias("label"))
        )
        labels.unpersist()
        labels = new_labels

        new_e = fresh_checkpoint(
            e.join(roots.select(F.col("c").alias("u"), F.col("d").alias("ru")), "u")
            .join(roots.select(F.col("c").alias("v"), F.col("d").alias("rv")), "v")
            .filter(F.col("ru") != F.col("rv"))
            .select(
                F.least("ru", "rv").alias("u"),
                F.greatest("ru", "rv").alias("v"),
                "k",
            )
            .groupBy("u", "v")
            .agg(F.min("k").alias("k"))
        )
        e.unpersist()
        roots.unpersist()
        e = new_e
    else:
        raise RuntimeError(
            f"Borůvka did not contract to a forest in {max_rounds} rounds "
            f"({e.count()} cross-component edges remain) — raise max_rounds"
        )
    e.unpersist()

    if not chosen_parts:
        forest = spark.createDataFrame([], "u long, v long, weight double")
        total = 0.0
    else:
        acc = chosen_parts[0]
        for part in chosen_parts[1:]:
            acc = acc.unionByName(part)
        tobs = Observation()
        forest = fresh_checkpoint(
            acc.observe(
                tobs, F.coalesce(F.sum("weight"), F.lit(0.0)).alias("tw")
            )
        )
        total = float(tobs.get["tw"] or 0.0)
        for sel in sels:
            sel.unpersist()
    return MSFResult(edges=forest, labels=labels, total_weight=total, rounds=rounds)
