"""t1: CSR-like edge layout, scoring projection, degrees, hubs, report ops."""

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from engine.graph import (
    hub_vertices,
    load_edges_csr,
    out_degrees,
    save_edges_csr,
    scoring_projection,
    symmetrize,
)
from engine.report import top_k, top_k_per_type
from tests.conftest import edges_df


def test_csr_roundtrip_and_sorted_runs(spark, tiny_graph, tmp_path):
    _, e = tiny_graph
    path = str(tmp_path / "edges_csr")
    save_edges_csr(e, path, buckets=4)
    back = load_edges_csr(spark, path)
    assert back.count() == e.count()
    assert set(back.columns) == {"src", "dst", "rel", "weight"}
    # bucket layout on disk
    buckets = [d for d in os.listdir(path) if d.startswith("src_bucket=")]
    assert len(buckets) == 4
    # src-sorted runs inside each file (the CSR property)
    f = next(
        os.path.join(path, buckets[0], x)
        for x in os.listdir(os.path.join(path, buckets[0]))
        if x.endswith(".parquet")
    )
    t = pq.read_table(f, columns=["src", "dst"]).to_pydict()
    pairs = list(zip(t["src"], t["dst"]))
    assert pairs == sorted(pairs)


def test_out_degrees_and_hubs(spark):
    e = edges_df(spark, [(i, 0) for i in range(1, 9)] + [(0, 1)])
    hubs = hub_vertices(e, threshold=5)
    assert [r.vid for r in hubs.collect()] == [0]
    od = {r.vid: r.out_deg for r in out_degrees(e).collect()}
    assert od[1] == 1 and od[0] == 1


def test_symmetrize_collapses_and_drops_loops(spark):
    e = edges_df(spark, [(0, 1, 2.0), (1, 0, 1.0), (1, 1, 5.0)])
    s = {(r.src, r.dst): r.weight for r in symmetrize(e).collect()}
    assert s == {(0, 1): 3.0, (1, 0): 3.0}


def test_scoring_projection_adds_damped_reverse(spark):
    """Verum S1: reverse edges at half weight so relevance flows upstream."""
    e = edges_df(spark, [(0, 1, 2.0)])
    s = {(r.src, r.dst): r.weight for r in scoring_projection(e, 0.5).collect()}
    assert s == {(0, 1): 2.0, (1, 0): 1.0}


def test_top_k_report(spark, tiny_graph):
    v, _ = tiny_graph
    scores = v.select("vid", (F.col("vid") * 1.0).alias("value"))
    t = top_k(scores, v, k=5).collect()
    assert len(t) == 5
    assert [r.vid for r in t] == sorted([r.vid for r in t], reverse=True)
    per = top_k_per_type(scores, v, k=2)
    counts = {r["vtype"]: r["n"] for r in per.groupBy("vtype").agg(F.count("*").alias("n")).collect()}
    assert all(c <= 2 for c in counts.values())


def test_scalable_vid_assignment_matches_window_path(spark, tiny_graph):
    """The range-partition + prefix-sum path must produce EXACTLY the vids of
    the row_number window path (VERDICT r1 item 6): vid = global rank of
    name, invariant to where the sampled range boundaries fall."""
    from engine.graph import assign_vertex_ids

    v, _ = tiny_graph
    names = v.select("name")
    window = {r.name: r.vid for r in assign_vertex_ids(names, scalable=False).collect()}
    scalable = {r.name: r.vid for r in assign_vertex_ids(names, scalable=True).collect()}
    assert window == scalable
    # dense 0..N-1
    assert sorted(scalable.values()) == list(range(len(scalable)))
    # vtype column intact on the scalable path
    row = assign_vertex_ids(names, scalable=True).filter("name LIKE 'repo:%'").first()
    assert row.vtype == "repo"


def test_scalable_vid_parallelism_invariant(spark, tiny_graph):
    """Same vids regardless of shuffle partition count (partition boundaries
    move, global ranks don't)."""
    from engine.graph import assign_vertex_ids

    v, _ = tiny_graph
    names = v.select("name")
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        a = {r.name: r.vid for r in assign_vertex_ids(names, scalable=True).collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b = {r.name: r.vid for r in assign_vertex_ids(names, scalable=True).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert a == b


def test_bucketed_table_no_edge_exchange(spark, tiny_graph):
    """ADVICE r1: the zero-edge-shuffle claim must be REALIZED — a bucketed
    (bucketBy src) table re-read exposes HashPartitioning(src), so
    groupBy(src) and the PageRank prep run with no Exchange on the edge
    side, and pagerank(edges_pre_partitioned=True) matches the plain run."""
    import numpy as np
    from engine.algos.loopstate import iterative_conf
    from engine.algos.pagerank import pagerank, _prepare_edges
    from engine.graph import load_edges_bucketed, save_edges_bucketed

    v, e = tiny_graph
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    save_edges_bucketed(e, "edges_bucketed_test", buckets=P)
    back = load_edges_bucketed(spark, "edges_bucketed_test")
    assert back.count() == e.count()

    # groupBy on the bucket column: no shuffle above the scan
    plan = (
        back.groupBy("src").count()._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan

    # the whole _prepare_edges chain stays exchange-free on the edge side
    with iterative_conf(spark):
        norm, _, _ = _prepare_edges(back, True, None, 16, P, pre_partitioned=True)
        nplan = norm._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in nplan, nplan

    r_plain = pagerank(spark, e, vertices=v, tol=0.0, max_iter=6)
    r_bucket = pagerank(
        spark, back, vertices=v, tol=0.0, max_iter=6, edges_pre_partitioned=True
    )
    a = {r.vid: r.value for r in r_plain.ranks.collect()}
    b = {r.vid: r.value for r in r_bucket.ranks.collect()}
    assert a.keys() == b.keys()
    assert np.allclose(
        [a[k] for k in sorted(a)], [b[k] for k in sorted(b)], atol=1e-12
    )
    spark.sql("DROP TABLE IF EXISTS edges_bucketed_test")


def test_degree_histogram_matches_networkx(spark, tiny_graph, tiny_nx):
    from engine.graph import degree_histogram

    _, e = tiny_graph
    got = {r.degree: r.n_vertices for r in degree_histogram(e).collect()}
    import networkx as nx
    hist = nx.degree_histogram(tiny_nx.to_undirected())
    want = {d: c for d, c in enumerate(hist) if c and d > 0}
    assert got == want


def test_degree_assortativity_matches_networkx(spark):
    import networkx as nx
    import pytest
    from engine.graph import degree_assortativity
    from tests.conftest import edges_df

    g = nx.gnm_random_graph(60, 150, seed=33)
    got = degree_assortativity(edges_df(spark, list(g.edges)))
    want = nx.degree_assortativity_coefficient(g)
    assert got == pytest.approx(want, abs=1e-9)

    # star: perfectly disassortative
    star = [(0, i) for i in range(1, 8)]
    got_star = degree_assortativity(edges_df(spark, star))
    want_star = nx.degree_assortativity_coefficient(nx.Graph(star))
    assert got_star == pytest.approx(want_star, abs=1e-9)


def test_reciprocity_matches_networkx(spark):
    import networkx as nx
    import pytest
    from engine.graph import reciprocity

    g = nx.gnm_random_graph(30, 120, seed=9, directed=True)
    got = reciprocity(edges_df(spark, list(g.edges)))
    assert got == pytest.approx(nx.reciprocity(g), abs=1e-12)
    # hand graphs: pure hierarchy -> 0, full 2-cycle -> 1
    assert reciprocity(edges_df(spark, [(0, 1), (1, 2)])) == 0.0
    assert reciprocity(edges_df(spark, [(0, 1), (1, 0)])) == 1.0
    import math
    assert math.isnan(reciprocity(edges_df(spark, [(3, 3)])))


def test_density_matches_networkx(spark):
    import networkx as nx
    import pytest
    from engine.graph import graph_density

    gd = nx.gnm_random_graph(25, 90, seed=4, directed=True)
    assert graph_density(edges_df(spark, list(gd.edges))) == pytest.approx(
        nx.density(gd), abs=1e-12
    )
    gu = nx.gnm_random_graph(25, 60, seed=5)
    pairs = list(gu.edges) + [(b, a) for a, b in gu.edges]
    assert graph_density(
        edges_df(spark, pairs), directed=False
    ) == pytest.approx(nx.density(gu), abs=1e-12)


def test_powerlaw_alpha_matches_direct_mle(spark, tiny_graph):
    import math

    import pytest
    from engine.graph import powerlaw_alpha

    _, e = tiny_graph
    # direct MLE on the collected degree list (CSN 2009 eq. 3.7)
    und = {}
    for r in e.select("src", "dst").distinct().collect():
        if r.src == r.dst:
            continue
        a, b = min(r.src, r.dst), max(r.src, r.dst)
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    for dmin in (1, 2, 3):
        degs = [len(v) for v in und.values() if len(v) >= dmin]
        slog = sum(math.log(d / (dmin - 0.5)) for d in degs)
        want = 1.0 + len(degs) / slog
        got = powerlaw_alpha(e, dmin=dmin)
        assert got["alpha"] == pytest.approx(want, rel=1e-12)
        assert got["n_tail"] == len(degs)
        assert got["sigma"] == pytest.approx((want - 1) / len(degs) ** 0.5)


def test_powerlaw_alpha_contracts(spark):
    import pytest
    from engine.graph import powerlaw_alpha
    from tests.conftest import edges_df

    with pytest.raises(ValueError, match="dmin"):
        powerlaw_alpha(edges_df(spark, [(0, 1)]), dmin=0)
    # a single edge: both degrees == dmin=1 -> Σlog over d/0.5 is log 2 > 0,
    # fine; but dmin=2 leaves an empty tail
    with pytest.raises(ValueError, match="no vertices"):
        powerlaw_alpha(edges_df(spark, [(0, 1)]), dmin=2)


def test_rich_club_matches_networkx(spark):
    import networkx as nx
    from engine.graph import rich_club
    from tests.conftest import edges_df

    # the nx docstring example plus random graphs — whole dict, no
    # tolerance (same integer-ratio double division on both sides)
    cases = [
        nx.Graph([(0, 1), (0, 2), (1, 2), (1, 3), (1, 4), (4, 5)]),
        nx.gnm_random_graph(40, 120, seed=11),
        nx.barbell_graph(6, 2),
        nx.star_graph(9),
    ]
    for g in cases:
        g.remove_nodes_from(list(nx.isolates(g)))
        got = {r.k: r.phi for r in rich_club(edges_df(spark, list(g.edges))).collect()}
        want = nx.rich_club_coefficient(g, normalized=False)
        assert got == want, g

    # counts surface honestly: on the star, k=0 sees all nodes/edges
    rows = {r.k: r for r in rich_club(edges_df(spark, list(nx.star_graph(9).edges))).collect()}
    assert rows[0].n_nodes == 10 and rows[0].n_edges == 9


def test_rich_club_simple_view_and_gaps(spark):
    import networkx as nx
    from engine.graph import rich_club
    from tests.conftest import edges_df

    # duplicate orientations + self loops collapse to the simple view
    # (networkx would raise on the self loop; the engine's simple-view
    # convention drops it, like every other shape statistic here)
    pairs = [(0, 1), (1, 0), (1, 1), (1, 2), (0, 2), (2, 3)]
    got = {r.k: r.phi for r in rich_club(edges_df(spark, pairs)).collect()}
    g = nx.Graph([(0, 1), (1, 2), (0, 2), (2, 3)])
    assert got == nx.rich_club_coefficient(g, normalized=False)

    # degree gaps (degrees 1 and 50): dense k rows fill the gap with
    # constant step values — parity over the whole range
    hub = [(0, i) for i in range(1, 51)] + [(1, 2)]
    got = {r.k: r.phi for r in rich_club(edges_df(spark, hub)).collect()}
    want = nx.rich_club_coefficient(nx.Graph(hub), normalized=False)
    assert got == want
