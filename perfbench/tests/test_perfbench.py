"""Tests of the benchmark itself, on tiny inputs.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from perfbench import run as bench

ROOT = bench.ROOT
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

NAMED = {
    "ingest": {"ingest_rows_per_s", "fold_s_p50"},
    "converge": {"rank_s", "pagerank_edges_per_s_iter", "cc_s", "lpa_s"},
    "context_mix": {"query_p50_s", "query_tail_s", "mix_ops_per_s", "mix_fold_s_p50"},
}


@pytest.fixture(scope="module")
def tiny():
    from perfbench.workloads import Sizes

    return Sizes(ingest_rows=600, converge_rows=300, mix_rows=600, rows_per_repo=30,
                 fold_frac=0.05, ingest_folds=1, mix_folds=1, queries_per_fold=2,
                 stop_iter=3, lpa_iters=2)


@pytest.mark.parametrize("workload", bench.WORKLOAD_NAMES)
def test_every_end_to_end_metric_is_emitted(workload, tiny, tmp_path):
    out = bench.run(workload, seed=3, seconds=0, traced=False, sizes=tiny,
                    out_dir=str(tmp_path))
    line = bench.result_line(out)
    assert line["correct"], out["problems"] or out["error"]
    assert line["failed"] == 0 and line["attempted"] >= 1
    assert set(line["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for name, m in line["metrics"].items():
        assert m["value"] > 0, name
    assert NAMED[workload] | {"setup_s", "failed_frac", "peak_cached_mib"} <= set(out["named"])
    assert out["env"]["master"] == f"local[{out['env']['cores']}]"


def test_traced_run_reports_layers_and_linked_spans(tiny, tmp_path):
    out = bench.run("ingest", seed=4, seconds=0, traced=True, sizes=tiny,
                    out_dir=str(tmp_path))
    line = bench.result_line(out)
    assert line["correct"], out["problems"] or out["error"]
    assert set(line["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    layers = line["metrics"]
    assert layers["derive.jobs"]["value"] > 0
    assert layers["incremental.fold_jobs"]["value"] > 0
    assert layers["graph.assign_vids_s"]["value"] > 0
    assert layers["spark.tasks"]["value"] > 0
    with open(out["spans_file"]) as f:
        spans = [json.loads(line) for line in f]
    ids = {s["id"] for s in spans}
    assert len({s["run"] for s in spans}) == 1
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert all(s["end"] >= s["start"] for s in spans)
    split = {s["name"]: s for s in spans}
    assert spans[split["graph.encode"]["parent"]]["name"] == "derive.build_graph"
    assert os.path.exists(out["spans_file"].replace(".spans.jsonl", ".layers.tsv"))


# ---- every check trips on a corrupted output ----------------------------------

@pytest.fixture(scope="module")
def spark():
    from engine.session import get_spark

    return get_spark(2)


def test_corrupted_outputs_trip_their_checks(spark):
    from perfbench import checks

    v = spark.createDataFrame([(0,), (1,), (2,)], "vid long")
    e = spark.createDataFrame([(0, 1, "r"), (1, 2, "r")], "src long, dst long, rel string")
    assert checks.graph_problems(v, e) == []
    assert checks.graph_problems(v.filter("vid != 1").union(
        spark.createDataFrame([(7,)], "vid long")), e)
    assert checks.graph_problems(v, e.union(e.limit(1)))
    assert checks.hash_problems(0) == [] and checks.hash_problems(1)

    ranks = spark.createDataFrame([(0, 0.25), (1, 0.25), (2, 0.5)], "vid long, value double")
    assert checks.pagerank_problems(ranks, True, 1e-7, 3, 1e-6) == []
    doubled = ranks.selectExpr("vid", "value * 2 AS value")
    assert checks.pagerank_problems(doubled, True, 1e-7, 3, 1e-6)
    assert checks.pagerank_problems(ranks, True, 1e-7, None, 1e-6)
    assert checks.pagerank_problems(ranks, False, 1e-3, 3, 1e-6)

    good = spark.createDataFrame([(0, 0), (1, 0), (2, 0)], "vid long, label long")
    assert checks.cc_problems(good, e) == []
    assert checks.cc_problems(
        spark.createDataFrame([(0, 0), (1, 0), (2, 2)], "vid long, label long"), e)
    assert checks.cc_problems(
        spark.createDataFrame([(0, 1), (1, 1), (2, 1)], "vid long, label long"), e)
    assert checks.lpa_problems(good, v) == []
    assert checks.lpa_problems(
        spark.createDataFrame([(0, 9), (1, 0), (2, 0)], "vid long, label long"), v)

    sv = pd.DataFrame({"vid": [0, 1, 2], "depth": [0, 1, 2]})
    se = pd.DataFrame({"src": [0, 1], "dst": [1, 2]})
    assert checks.query_problems(sv, se, [0], 2) == []
    assert checks.query_problems(sv, se, [0], 1)
    assert checks.query_problems(sv, se, [1], 2)
    assert checks.query_problems(sv, pd.DataFrame({"src": [0], "dst": [5]}), [0], 2)
