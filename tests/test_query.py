"""t2: Verum context query (k-hop + dont_follow) vs NetworkX BFS oracle."""

import pytest
from pyspark.sql import functions as F

from engine.algos.query import context_query
from tests.conftest import edges_df, vertices_df
from tests.oracles import khop_oracle, nx_digraph


def _vtypes(v):
    return {r.vid: r.vtype for r in v.select("vid", "vtype").collect()}


def _rows(sub_v, sub_e):
    """Both results as row lists, each checked free of duplicate rows."""
    vs = [tuple(r) for r in sub_v.collect()]
    es = [tuple(r) for r in sub_e.collect()]
    assert len(vs) == len(set(vs)) and len(es) == len(set(es))
    return sorted(vs), sorted(es)


# Hand-built graph: a self-loop on 1, the reciprocal pair 1<->2, a path
# 2-3-4-5 whose far end also loops, and an isolated 6. Eccentricity of 1
# is 4.
_SMALL_EDGES = [(1, 1), (1, 2), (2, 1), (2, 3), (3, 4), (4, 5), (5, 5)]


@pytest.fixture(scope="module")
def small_graph(spark):
    return vertices_df(spark, range(1, 7)), edges_df(spark, _SMALL_EDGES)


@pytest.mark.parametrize("graph, depth, seeds_sql, dupes", [
    ("tiny_graph", 3, "vtype = 'repo'", 1),
    ("small_graph", 2, "vid IN (1, 4)", 3),  # duplicate topic vids
    ("small_graph", 4, "vid = 1", 1),
])
def test_khop_depths_match_oracle(spark, request, graph, depth, seeds_sql, dupes):
    v, e = request.getfixturevalue(graph)
    seed = v.filter(seeds_sql).orderBy("vid").limit(2).select("vid")
    seeds = [r.vid for r in seed.collect()]
    topic = seed
    for _ in range(dupes - 1):
        topic = topic.unionByName(seed)
    sub_v, sub_e = context_query(
        spark, v, e, topic, max_depth=depth, dont_follow=("lang", "commit")
    )
    vs, es = _rows(sub_v, sub_e)
    ours = {vid: d for vid, _, _, d in vs}
    g = nx_digraph([r.vid for r in v.collect()], [(r.src, r.dst, r.weight) for r in e.collect()])
    assert ours == khop_oracle(g, _vtypes(v), seeds, depth, {"lang", "commit"})
    induced = sorted(tuple(r) for r in e.collect() if r.src in ours and r.dst in ours)
    assert es == induced


def test_dont_follow_prunes_expansion(spark, tiny_graph, tiny_nx):
    """Blocking 'path' expansion keeps the context to depth-1-ish shells."""
    v, e = tiny_graph
    seed = v.filter("vtype = 'repo'").orderBy("vid").limit(1)
    seeds = [r.vid for r in seed.collect()]
    sub_v, _ = context_query(
        spark, v, e, seed.select("vid"), max_depth=4,
        dont_follow=("path", "lang", "commit"),
    )
    ours = {r.vid: r.depth for r in sub_v.collect()}
    ref = khop_oracle(tiny_nx, _vtypes(v), seeds, 4, {"path", "lang", "commit"})
    assert ours == ref


def test_induced_edges_are_within_subgraph(spark, tiny_graph):
    v, e = tiny_graph
    seed = v.filter("vtype = 'repo'").orderBy("vid").limit(1)
    sub_v, sub_e = context_query(spark, v, e, seed.select("vid"), max_depth=2)
    keep = sub_v.select("vid")
    assert sub_e.join(keep.withColumnRenamed("vid", "src"), "src", "left_anti").count() == 0
    assert sub_e.join(keep.withColumnRenamed("vid", "dst"), "dst", "left_anti").count() == 0


def test_topic_is_read_once(spark, tiny_graph):
    """The caller's topic, a Python-backed RDD here, is computed exactly once
    per call, results included."""
    v, e = tiny_graph
    seeds = [r.vid for r in v.filter("vtype = 'repo'").orderBy("vid").limit(3).collect()]
    reads = spark.sparkContext.accumulator(0)

    def tick(vid):
        reads.add(1)
        return (vid,)

    topic = spark.createDataFrame(
        spark.sparkContext.parallelize(seeds, 1).map(tick), "vid long"
    )
    sub_v, sub_e = context_query(spark, v, e, topic, max_depth=2)
    sub_v.collect(), sub_e.collect()
    assert reads.value == len(seeds)


@pytest.mark.parametrize("graph, seeds_sql, exact", [
    ("tiny_graph", "vtype = 'repo'", None),
    ("small_graph", "vid = 1", 4),
])
def test_depth_beyond_eccentricity_is_the_exact_depth(spark, request, graph, seeds_sql, exact):
    v, e = request.getfixturevalue(graph)
    topic = v.filter(seeds_sql).orderBy("vid").limit(1).select("vid")
    if exact is None:  # the tiny graph: its BFS depth, from the unbounded run
        exact = context_query(spark, v, e, topic, max_depth=50)[0].agg(F.max("depth")).first()[0]
    at_exact = _rows(*context_query(spark, v, e, topic, max_depth=exact))
    beyond = _rows(*context_query(spark, v, e, topic, max_depth=exact + 3))
    assert beyond == at_exact


def test_partitioning_invariance(spark, tiny_graph):
    v, e = tiny_graph
    topic = v.filter("vtype = 'repo'").orderBy("vid").limit(2).select("vid")
    one = _rows(*context_query(spark, v, e.repartition(1), topic, max_depth=3))
    seven = _rows(*context_query(spark, v, e.repartition(7), topic, max_depth=3))
    assert one == seven
    assert {d for *_, d in one[0]} >= {0, 1, 2}
