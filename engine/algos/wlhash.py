"""Weisfeiler–Lehman structural hashing — per-vertex roles and per-graph
fingerprints, batched over MANY graphs at once.

Public semantics: 1-dimensional Weisfeiler–Lehman color refinement
(Weisfeiler & Leman 1968; Shervashidze et al. JMLR 2011 "Weisfeiler-
Lehman graph kernels"; the `networkx.weisfeiler_lehman_graph_hash`
family): every vertex starts with a label (its degree here), and each
round relabels a vertex with a hash of (own label, the MULTISET of its
neighbors' labels). After r rounds, two vertices with equal labels are
structurally indistinguishable at radius r, and a multiset-hash of all
final labels fingerprints the whole graph — equal for isomorphic graphs,
and (up to the well-known 1-WL blind spots, e.g. C6 vs 2xC3, tested
explicitly) different for non-isomorphic ones.

Training-data use case: structural deduplication of a CORPUS of small
graphs (code ASTs, dependency graphs, molecules) — the edge table
carries a ``gid`` column and every step is keyed by (gid, vid), so one
job refines millions of graphs simultaneously; dedup is then an exact
groupBy on the fingerprint (engine/dedup.py's exact-group machinery).

Spark shape — the multiset hash is COMMUTATIVE so the neighbor
aggregation is a partial-aggregable groupBy, never a collect_list:

* multiset_hash(S) = struct(sum(h(x)), xor(h(x)), count(x)) over x in S
  — order-free, Tungsten partial-agg combines it map-side, and hub
  vertices cost the same as leaves (no width-|S| rows materialized).
  The canonical WL uses sorted label concatenation; the additive form
  trades a 2^-64-ish collision class for scale-freedom (public
  technique — hash-based homomorphic multiset hashing, cf. Bellare &
  Micciancio's XOR/ADD incremental hashing, EUROCRYPT '97).
* One round = one equi-join (edges x labels on dst) + one (gid, src)
  partial agg + one xxhash64 combine. Same gather shape as PageRank.
* Labels go through fresh_checkpoint (the repo's self-feeding-loop
  contract, engine/algos/loopstate.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.algos.loopstate import fresh_checkpoint, iterative_conf

_GID = "__wl_gid__"


def _prep(edges: DataFrame, gid_col: str | None, directed: bool):
    gid = F.col(gid_col) if gid_col else F.lit(0)
    fwd = edges.select(
        gid.alias(_GID), "src", "dst"
    ).filter(F.col("src") != F.col("dst"))
    if directed:
        return fwd
    return fwd.union(
        fwd.select(_GID, F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def wl_labels(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 3,
    gid_col: str | None = None,
    directed: bool = False,
) -> DataFrame:
    """(gid?, vid, wl_label) after ``rounds`` of refinement.

    ``gid_col``: name of the graph-id column for batched multi-graph
    mode (omitted = the whole edge table is one graph). ``directed``
    refines on out-neighbors only; default treats edges as undirected
    (the standard WL setting). Isolated vertices don't appear (an edge
    table can't see them); their WL label would be the bare degree-0
    hash, constant across graphs.
    """
    if rounds < 0:
        raise ValueError(f"wl_labels: rounds must be >= 0, got {rounds}")
    # Scale-adaptive loop partitioning; size known before the (gid, dst)
    # edge clustering commits a partition count.
    with iterative_conf(spark, loop_rows=edges.count(), row_bytes=32):
        P = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # Partitioned by the JOIN key of the per-round gather (gid, dst):
        # rounds then move only the O(V) label state, never the edge table
        # (the r5 shape repartitioned by src and re-exchanged O(E)/round).
        e = _prep(edges, gid_col, directed).repartition(P, _GID, "dst")
        e = e.localCheckpoint(eager=True)
        # Vertex set = src UNION dst (directed mode has pure sinks with no
        # out-edge — they must still carry a label or their in-neighbors'
        # multisets silently shrink); round-0 label = hash of out-degree.
        verts = (
            e.select(_GID, F.col("src").alias("vid"))
            .union(e.select(_GID, F.col("dst").alias("vid")))
            .distinct()
        )
        deg = e.groupBy(_GID, F.col("src").alias("vid")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        labels = fresh_checkpoint(
            verts.join(deg, [_GID, "vid"], "left")
            .select(
                _GID,
                "vid",
                F.xxhash64(F.coalesce("deg", F.lit(0))).alias("wl"),
            )
            .repartition(P, _GID, "vid")
        )
        for _ in range(rounds):
            nbr = (
                e.join(
                    labels.select(
                        _GID, F.col("vid").alias("dst"), F.col("wl").alias("nwl")
                    ),
                    [_GID, "dst"],
                )
                .groupBy(_GID, F.col("src").alias("vid"))
                .agg(
                    # decimal(38,0) sum: ANSI-safe (a long sum of 64-bit
                    # hashes overflows immediately) and still map-side
                    # partial-aggregable
                    F.sum(F.col("nwl").cast("decimal(38,0)")).alias("ms"),
                    F.expr("bit_xor(nwl)").alias("mx"),
                    F.count(F.lit(1)).alias("mc"),
                )
            )
            new_labels = fresh_checkpoint(
                labels.join(nbr, [_GID, "vid"], "left")
                .select(
                    _GID,
                    "vid",
                    F.xxhash64(
                        "wl",
                        F.coalesce("ms", F.lit(0).cast("decimal(38,0)")),
                        F.coalesce("mx", F.lit(0)),
                        F.coalesce("mc", F.lit(0)),
                    ).alias("wl"),
                )
                .repartition(P, _GID, "vid")
            )
            labels.unpersist()
            labels = new_labels
        e.unpersist()
        out = labels.withColumnRenamed("wl", "wl_label")
        if gid_col:
            return out.withColumnRenamed(_GID, gid_col)
        return out.drop(_GID)


def wl_graph_hash(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 3,
    gid_col: str | None = None,
    directed: bool = False,
) -> DataFrame:
    """(gid?, wl_hash, n_vertices) — one fingerprint per graph: the
    commutative multiset hash of the final vertex labels. Isomorphic
    graphs (same rounds) hash equal; see module docstring for the 1-WL
    indistinguishability caveat."""
    labels = wl_labels(spark, edges, rounds, gid_col, directed)
    keys = [gid_col] if gid_col else []
    out = (
        labels.groupBy(*keys)
        .agg(
            F.xxhash64(
                F.sum(F.col("wl_label").cast("decimal(38,0)")),
                F.expr("bit_xor(wl_label)"),
                F.count(F.lit(1)),
            ).alias("wl_hash"),
            F.count(F.lit(1)).alias("n_vertices"),
        )
    )
    # labels was a caller-owned checkpoint from wl_labels; materialize the
    # reduction then release it
    out = out.localCheckpoint(eager=True)
    labels.unpersist()
    return out
