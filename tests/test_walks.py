"""Random-walk corpus generator: structural validity (every hop is a real
edge), exact counts, bit-identical determinism, seed sensitivity,
dead-end freezing, and first-step uniformity."""

from __future__ import annotations

import networkx as nx
import pytest

from engine.algos.walks import random_walks
from tests.conftest import edges_df


def _paths(df):
    return {r.walk_id: list(r.path) for r in df.collect()}


def test_every_hop_is_an_edge_and_counts_exact(spark):
    g = nx.gnm_random_graph(50, 200, seed=31, directed=True)
    e = edges_df(spark, list(g.edges))
    W, L = 3, 8
    got = _paths(random_walks(spark, e, walk_length=L, walks_per_vertex=W))
    starters = {v for v in g.nodes if g.out_degree(v) > 0}
    assert len(got) == W * len(starters)
    edge_set = set(g.edges)
    for wid, path in got.items():
        assert path[0] == wid // W          # walk starts at its vertex
        assert len(path) <= L + 1
        for a, b in zip(path, path[1:]):
            assert (a, b) in edge_set, (wid, path)
        # a walk shorter than L+1 must have frozen at a dead end
        if len(path) < L + 1:
            assert g.out_degree(path[-1]) == 0


def test_bit_identical_across_runs(spark):
    g = nx.gnm_random_graph(30, 90, seed=5, directed=True)
    e = edges_df(spark, list(g.edges))
    a = _paths(random_walks(spark, e, walk_length=6, walks_per_vertex=2, seed=9))
    b = _paths(random_walks(spark, e, walk_length=6, walks_per_vertex=2, seed=9))
    assert a == b


def test_seed_changes_walks(spark):
    g = nx.gnm_random_graph(30, 120, seed=6, directed=True)
    e = edges_df(spark, list(g.edges))
    a = _paths(random_walks(spark, e, walk_length=6, seed=1))
    b = _paths(random_walks(spark, e, walk_length=6, seed=2))
    assert a != b


def test_dead_end_freezes(spark):
    pairs = [(0, 1), (1, 2)]  # 2 is a sink
    got = _paths(random_walks(spark, edges_df(spark, pairs), walk_length=9))
    assert got[0] == [0, 1, 2]
    assert got[1] == [1, 2]
    assert 2 not in got  # sinks have no out-edges, so no walk starts there


def test_first_step_roughly_uniform(spark):
    # hub 0 -> 8 leaves, many replicas: each leaf should get a fair share
    pairs = [(0, i) for i in range(1, 9)]
    W = 400
    got = _paths(
        random_walks(spark, edges_df(spark, pairs), walk_length=1,
                     walks_per_vertex=W)
    )
    counts = {leaf: 0 for leaf in range(1, 9)}
    for path in got.values():
        counts[path[1]] += 1
    assert sum(counts.values()) == W
    for leaf, c in counts.items():
        assert c == pytest.approx(W / 8, rel=0.5), counts


def test_validation(spark):
    e = edges_df(spark, [(0, 1)])
    with pytest.raises(ValueError, match="walk_length"):
        random_walks(spark, e, walk_length=0)
    with pytest.raises(ValueError, match="walks_per_vertex"):
        random_walks(spark, e, walks_per_vertex=0)


def test_step_join_does_not_reshuffle_adjacency(spark):
    """The scale claim in walks.py: the per-step join shuffles only the
    O(walks) state — the (v, pick)-partitioned adjacency side must show
    no Exchange. Reconstruct one step's plan exactly as _walk_loop builds
    it and assert the adjacency branch is exchange-free. Must run under
    iterative_conf (AQE off), the planning context the loop actually
    uses — AQE's initial plans do not credit a checkpointed RDD's
    partitioning."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from engine.algos.loopstate import iterative_conf

    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges_df(spark, [(i, (i * 3 + 1) % 20) for i in range(20)])
    ctx = iterative_conf(spark)
    ctx.__enter__()
    adj = (
        e.select(F.col("src").alias("v"), F.col("dst").alias("nbr"))
        .filter(F.col("v") != F.col("nbr"))
        .distinct()
    )
    w_rank = Window.partitionBy("v").orderBy("nbr")
    base = adj.withColumn(
        "pick", (F.row_number().over(w_rank) - 1).cast("long")
    ).withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("v")))
    degs = base.select("v", "deg").distinct()
    ranked = (
        base.join(
            degs.select(F.col("v").alias("nbr"), F.col("deg").alias("nbr_deg")),
            "nbr", "left",
        )
        .select("v", "pick", "nbr", "nbr_deg")
        .repartition(P, "v", "pick")
        .localCheckpoint(eager=True)
    )
    state = degs.select(
        F.col("v").alias("walk_id"), F.col("v").alias("cur"),
        F.col("deg").alias("cur_deg"), F.array("v").alias("path"),
    ).localCheckpoint(eager=True)
    step = state.withColumn(
        "pick",
        F.pmod(F.xxhash64("walk_id", F.lit(1), F.lit(7)), F.col("cur_deg")),
    ).join(
        ranked.select(F.col("v").alias("cur"), "pick", "nbr", "nbr_deg"),
        ["cur", "pick"], "left",
    )
    plan = step._jdf.queryExecution().executedPlan().toString()
    ctx.__exit__(None, None, None)
    # exactly one Exchange: the state side keyed by (cur, pick); the
    # checkpointed adjacency contributes none
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    ranked.unpersist()
    state.unpersist()


# ---------------- node2vec (second-order biased) walks ----------------

from engine.algos.walks import node2vec_walks  # noqa: E402


def test_n2v_every_hop_is_an_edge(spark):
    g = nx.gnm_random_graph(40, 160, seed=13, directed=True)
    e = edges_df(spark, list(g.edges))
    got = _paths(node2vec_walks(spark, e, walk_length=6, walks_per_vertex=2,
                                p=2.0, q=0.5))
    starters = {v for v in g.nodes if g.out_degree(v) > 0}
    assert len(got) == 2 * len(starters)
    edge_set = set(g.edges)
    for wid, path in got.items():
        assert path[0] == wid // 2
        for a, b in zip(path, path[1:]):
            assert (a, b) in edge_set, (wid, path)


def test_n2v_bit_identical_across_runs(spark):
    g = nx.gnm_random_graph(25, 80, seed=3, directed=True)
    e = edges_df(spark, list(g.edges))
    kw = dict(walk_length=5, walks_per_vertex=2, p=0.5, q=2.0, seed=21)
    assert _paths(node2vec_walks(spark, e, **kw)) == _paths(
        node2vec_walks(spark, e, **kw)
    )


def test_n2v_seed_and_pq_change_walks(spark):
    g = nx.gnm_random_graph(30, 150, seed=8, directed=True)
    e = edges_df(spark, list(g.edges))
    a = _paths(node2vec_walks(spark, e, walk_length=6, seed=1))
    assert a != _paths(node2vec_walks(spark, e, walk_length=6, seed=2))
    assert a != _paths(node2vec_walks(spark, e, walk_length=6, seed=1,
                                      p=100.0, q=0.01))


def test_n2v_p_inf_never_backtracks(spark):
    """p=inf zeroes the return class: no immediate backtrack v->u->v may
    occur whenever u had any other candidate (undirected-style edge pairs
    make every forward edge also a potential backtrack)."""
    g = nx.gnm_random_graph(30, 120, seed=17)
    pairs = [(a, b) for a, b in g.edges] + [(b, a) for a, b in g.edges]
    e = edges_df(spark, pairs)
    got = _paths(node2vec_walks(spark, e, walk_length=8, p=float("inf")))
    for wid, path in got.items():
        for i in range(2, len(path)):
            if path[i] == path[i - 2]:
                # a backtrack is only legal when it was the sole candidate
                assert set(g.neighbors(path[i - 1])) == {path[i]}, (wid, path)


def test_n2v_q_inf_stays_near(spark):
    """q=inf zeroes the explore class: every step goes to the predecessor
    or to an out-neighbor of the predecessor, whenever such a candidate
    exists."""
    g = nx.gnm_random_graph(30, 200, seed=23, directed=True)
    e = edges_df(spark, list(g.edges))
    got = _paths(node2vec_walks(spark, e, walk_length=8, q=float("inf")))
    out_nbrs = {v: set(g.successors(v)) for v in g.nodes}
    for wid, path in got.items():
        for i in range(2, len(path)):
            t, v, x = path[i - 2], path[i - 1], path[i]
            near = {c for c in out_nbrs[v] if c == t or c in out_nbrs[t]}
            if near:
                assert x in near, (wid, path)


def test_n2v_first_step_uniformish(spark):
    """With p=q=1 the first step is uniform over out-neighbors: over many
    replicas from one hub, each neighbor's share lands near 1/deg."""
    hub_edges = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    e = edges_df(spark, hub_edges)
    got = _paths(node2vec_walks(spark, e, walk_length=1, walks_per_vertex=400))
    firsts = [path[1] for wid, path in got.items() if path[0] == 0]
    assert len(firsts) == 400
    from collections import Counter
    shares = Counter(firsts)
    for nbr in range(1, 5):
        assert 0.15 <= shares[nbr] / 400 <= 0.35, shares


def test_n2v_rejects_bad_params(spark):
    e = edges_df(spark, [(0, 1)])
    with pytest.raises(ValueError):
        node2vec_walks(spark, e, walk_length=0)
    with pytest.raises(ValueError):
        node2vec_walks(spark, e, p=0.0)
