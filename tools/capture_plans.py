"""Dump the executed round-body plans of the iterative operators.

Wraps ``DataFrame.localCheckpoint`` so every per-round state
materialization writes its ``explain("formatted")`` text to a file, then
runs a selected operator at small scale. Running this against two
checkouts (round-start vs optimized) produces the before/after plan
evidence for OPTIMIZATION notes — no engine code is touched.

Usage:
    python tools/capture_plans.py --op rewire --out plans/r06/rewire_after.txt
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

try:  # Spark 4: the concrete class lives in pyspark.sql.classic
    import pyspark.sql.classic.dataframe as _D  # noqa: E402
except ImportError:  # pragma: no cover — Spark 3.x
    import pyspark.sql.dataframe as _D  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

_PLANS: list[str] = []
_CAP = 24


def _install_hook():
    orig = _D.DataFrame.localCheckpoint

    def patched(self, eager=True):
        if len(_PLANS) < _CAP:
            try:
                txt = self._sc._jvm.PythonSQLUtils.explainString(
                    self._jdf.queryExecution(), "formatted"
                )
            except Exception as exc:  # pragma: no cover
                txt = f"<explain failed: {exc}>"
            _PLANS.append(txt)
        return orig(self, eager)

    _D.DataFrame.localCheckpoint = patched


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--op", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--rows", type=int, default=50_000)
    args = ap.parse_args()

    _install_hook()

    from engine.session import get_spark
    from engine.datagen import source_files
    from engine.derive import build_graph

    spark = get_spark(8, app_name=f"capture-{args.op}")
    spark.sparkContext.setLogLevel("ERROR")
    src = source_files(spark, args.rows, max(100, args.rows // 400),
                       with_content=False).persist()
    src.count()
    v, e = build_graph(src, include_cooccur=False)
    v = v.persist()
    e = e.persist()
    v.count(), e.count()
    _PLANS.clear()  # only the operator's own materializations

    op = args.op
    if op == "rewire":
        from engine.algos.rewire import double_edge_swap
        double_edge_swap(spark, e, rounds=2).edges.count()
    elif op == "partition":
        from engine.algos.partition import partition_graph
        r = partition_graph(spark, e, k=8, max_rounds=2, track_cut=False)
        r.assignment.unpersist()
    elif op == "cc":
        from engine.algos.cc import connected_components
        connected_components(spark, e, v).labels.count()
    elif op == "kcore":
        from engine.algos.kcore import core_numbers
        core_numbers(spark, e, vertices=v).cores.count()
    elif op == "lpa":
        from engine.algos.lpa import label_propagation
        label_propagation(spark, e, v, max_iter=3).labels.count()
    elif op == "msf":
        from engine.algos.msf import minimum_spanning_forest
        r = minimum_spanning_forest(
            spark, e.withColumn("weight", F.lit(1.0)), vertices=v)
        r.edges.count()
    elif op == "toposort":
        from engine.algos.toposort import topological_layers
        topological_layers(spark, e, vertices=v).layers.count()
    elif op == "wl":
        from engine.algos.wlhash import wl_labels
        wl_labels(spark, e, rounds=2).unpersist()
    elif op == "hyperball":
        from engine.algos.neighborhood import neighborhood_function
        neighborhood_function(spark, e, p=4).balls.count()
    elif op == "betweenness":
        from engine.algos.betweenness import betweenness
        piv = v.filter(F.col("vtype") == "repo").orderBy("vid").limit(4).select("vid")
        betweenness(spark, e, pivots=piv).scores.unpersist()
    elif op == "sssp":
        from engine.algos.landmarks import build_distance_oracle
        o = build_distance_oracle(spark, e, n_landmarks=2, weighted=False)
        o.fwd.unpersist(); o.bwd.unpersist()
    elif op == "ppr_sweep":
        from engine.algos.localcluster import ppr_sweep
        from engine.graph import in_degrees
        scores = in_degrees(e).select(
            "vid", F.col("in_deg").cast("double").alias("value"))
        ppr_sweep(spark, e, seeds=[0], scores=scores, top_k=200)
    elif op == "query":
        from engine.algos.query import context_query
        topic = v.filter(F.col("vtype") == "repo").orderBy("vid").limit(2).select("vid")
        sub_v, sub_e = context_query(spark, v, e, topic, max_depth=3)
        sub_v.count(), sub_e.count()
    elif op == "pagerank":
        from engine.algos.pagerank import pagerank
        pagerank(spark, e, vertices=v, tol=0.0, max_iter=3)
    elif op == "temporal":
        from engine.algos.temporal import earliest_arrival
        te = e.withColumn(
            "ts", (F.pmod(F.xxhash64("src", "dst"), F.lit(64))).cast("double"))
        tsrc = (v.filter(F.col("vtype") == "repo").orderBy("vid").limit(16)
                .select("vid", F.lit(0.0).alias("t0")))
        earliest_arrival(spark, te, tsrc).arrivals.count()
    else:
        raise SystemExit(f"unknown op {op}")

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as fh:
        for i, p in enumerate(_PLANS):
            fh.write(f"===== materialization {i} =====\n{p}\n")
    print(f"wrote {len(_PLANS)} plans to {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
