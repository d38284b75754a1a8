"""Synchronous label propagation with a deterministic spec (SURVEY.md §5.3).

Exact-match LPA requires removing every source of nondeterminism that the
usual async/randomized formulations carry (networkx's builtin
``asyn_lpa_communities`` is randomized and unusable as an exact oracle):

  (a) undirected view: edges ∪ reversed, self-loops dropped, parallel edges
      collapsed (a neighbor votes once regardless of multiplicity);
  (b) synchronous rounds — every label updates from the round-i state;
  (c) new label = most frequent neighbor label, ties -> smallest label id;
  (d) isolated vertices keep their own label;
  (e) converged when no label changes, when the state 2-cycles (oscillation
      breaker: if state_i == state_{i-2}, take the elementwise min of the
      two states and stop), or at max_iter.

The same spec is implemented in tests/oracle_lpa.py; the engine must match
it exactly (BASELINE.json north_rule: "label propagation ... exact").

Vote counting is two builtin aggregations (groupBy(vid,label).count ->
max-of-struct), never a collected neighbor list; the max-of-struct trick
(`max(struct(cnt, -label))`) gets "highest count, ties -> smallest label"
in one partial-aggregable pass.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import iterative_conf, observed_checkpoint


@dataclass
class LPAResult:
    labels: DataFrame  # (vid, label)
    iterations: int
    converged: bool


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 50,
) -> LPAResult:
    """Label every vertex by the module's deterministic LPA spec (a)-(e).

    ``edges``: pass a materialized (cached or checkpointed) table — the
    loop sizing counts it once before the loop."""
    # Scale-adaptive loop partitioning; size known before the nbrs/vids
    # layouts commit a partition count (symmetric view: row_bytes=32).
    with iterative_conf(spark, loop_rows=edges.count(), row_bytes=32):
        return _lpa_loop(spark, edges, vertices, max_iter)


def _lpa_loop(spark, edges, vertices, max_iter):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vid"))
            .unionByName(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    # vids partitioned by vid: the per-iteration update join then finds all
    # three inputs (vids, best, labels) co-partitioned — zero exchanges.
    vids = vertices.select("vid").repartition(P, "vid").localCheckpoint(eager=True)

    # (a) undirected simple neighbor list, partitioned ONCE by the join key
    # v: the per-iteration vote join reshuffles neither the O(E) edge table
    # nor the O(V) label state (labels stay hash(vid) and the vid->v rename
    # preserves the partitioning through the projection).
    nbrs = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition(P, "v")
        .localCheckpoint(eager=True)
    )

    labels, cs0 = observed_checkpoint(
        vids.select("vid", F.col("vid").alias("label")), "vid", "label"
    )
    history: list[tuple[tuple[int, int], DataFrame]] = [(cs0, labels)]

    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        votes = (
            nbrs.join(labels.withColumnRenamed("vid", "v"), "v")
            .groupBy(F.col("u").alias("vid"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # (c): max count, ties -> smallest label, via max(struct(cnt,-label)).
        best = votes.groupBy("vid").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("b")
        ).select("vid", (-F.col("b.nl")).alias("label"))
        # (d): vertices with no neighbors keep their current label.
        new_labels, cs = observed_checkpoint(
            vids.join(best, "vid", "left")
            .join(labels.withColumnRenamed("label", "old"), "vid", "left")
            .select("vid", F.coalesce("label", "old").alias("label")),
            "vid", "label",
        )
        if cs == history[-1][0]:
            labels = new_labels
            converged = True
            break
        # (e) oscillation breaker: 2-cycle -> elementwise min of both states.
        if len(history) >= 2 and cs == history[-2][0]:
            a = new_labels
            b = history[-1][1].withColumnRenamed("label", "label_b")
            labels = a.join(b, "vid").select(
                "vid", F.least("label", "label_b").alias("label")
            ).localCheckpoint(eager=True)
            converged = True
            break
        history.append((cs, new_labels))
        if len(history) > 3:
            # Evicted states are never compared again — release their
            # localCheckpoint blocks so a long run holds at most 3 states
            # in executor storage (VERDICT r1 item 8).
            history.pop(0)[1].unpersist()
        labels = new_labels

    # Release everything the result does not reference: the loop inputs and
    # all cached states except the final labels.
    for _cs, df in history:
        if df is not labels:
            df.unpersist()
    nbrs.unpersist()
    vids.unpersist()
    return LPAResult(labels, it, converged)


def community_edge_stats(
    spark: SparkSession, edges: DataFrame, labels: DataFrame
) -> DataFrame:
    """Per-community integer aggregates over the undirected simple view of
    ``edges``: ``(label, l_c, deg_c)`` with L_c = intra-community edge
    count and deg_c = summed degrees of the community's vertices — the
    exact ingredients modularity is assembled from (Newman & Girvan
    2004), exposed as a DataFrame so the quality machinery is witnessable
    value-level (driver g16). Two aggregates, no iteration; the result is
    materialized (localCheckpoint) so callers get community-count-sized
    rows with no live lineage.

    Raises when ``labels`` is not a full partition of the edge endpoints:
    inner joins would silently DROP edges with an unlabeled endpoint from
    the intra/degree sums while they still count in m, skewing Q —
    networkx raises NotAPartition for the same input (ADVICE r3). Under
    coverage, ``sum(deg_c) == 2m`` exactly, which is the check."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = und.localCheckpoint(eager=True)
    m = und.count()
    lab = labels.select("vid", "label")
    lab_a = lab.select(F.col("vid").alias("a"), F.col("label").alias("la"))
    lab_b = lab.select(F.col("vid").alias("b"), F.col("label").alias("lb"))
    tagged = und.join(lab_a, "a").join(lab_b, "b")
    intra = (
        tagged.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).alias("l_c"))
    )
    deg = (
        tagged.select(F.col("la").alias("label"))
        .unionByName(tagged.select(F.col("lb").alias("label")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("deg_c"))
    )
    stats = (
        deg.join(intra, "label", "left")
        .select("label", F.coalesce("l_c", F.lit(0)).alias("l_c"), "deg_c")
        .localCheckpoint(eager=True)
    )
    und.unpersist()
    n_tagged2 = stats.agg(F.sum("deg_c")).collect()[0][0] or 0
    if int(n_tagged2) != 2 * m:
        stats.unpersist()
        raise ValueError(
            f"labels do not cover every edge endpoint: {m - n_tagged2 // 2} "
            f"of {m} undirected edges have an unlabeled endpoint — "
            f"modularity over a partial partition is undefined "
            f"(networkx: NotAPartition)"
        )
    return stats


def modularity(
    spark: SparkSession, edges: DataFrame, labels: DataFrame
) -> float:
    """Newman modularity Q of a community assignment over the undirected
    simple view of ``edges`` (the same view the LPA loop propagates on) —
    the standard quality score for the labels this module produces
    (Newman & Girvan 2004 — public knowledge):

        Q = sum_c [ L_c / m  -  (deg_c / 2m)^2 ]

    with L_c = intra-community edge count, deg_c = summed degrees of the
    community's vertices, m = total edges (== sum(deg_c)/2 under the
    coverage guarantee :func:`community_edge_stats` enforces). One extra
    scalar collect over the community-sized stats — no iteration. Matches
    ``networkx.algorithms.community.modularity`` exactly
    (tests/test_lpa.py)."""
    stats = community_edge_stats(spark, edges, labels)
    row = stats.agg(
        F.sum("l_c").alias("sl"),
        F.sum(F.col("deg_c") * F.col("deg_c")).alias("sd2"),
        F.sum("deg_c").alias("sd"),
    ).collect()[0]
    stats.unpersist()
    m = int(row["sd"] or 0) // 2
    if m == 0:
        return 0.0
    return float(row["sl"]) / m - float(row["sd2"]) / (4.0 * m * m)
