"""Shared fixtures: one SparkSession for the whole suite (session startup is
~8 s here and every Spark job has a ~0.4 s floor — see SURVEY.md §7.5 env
notes), the tiny fixture corpus, and its derived graph + NetworkX twin."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from engine.datagen import source_files  # noqa: E402
from engine.derive import build_graph  # noqa: E402
from engine.session import get_spark  # noqa: E402
from tests.oracles import nx_digraph  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    s = get_spark(cores, app_name="verum-spark-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_source(spark):
    df = source_files(spark, 1_000, 20).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def tiny_graph(spark, tiny_source):
    v, e = build_graph(tiny_source)
    v = v.cache()
    e = e.cache()
    v.count(), e.count()
    return v, e


@pytest.fixture(scope="session")
def tiny_nx(tiny_graph):
    v, e = tiny_graph
    return nx_digraph(
        [r.vid for r in v.collect()],
        [(r.src, r.dst, r.weight) for r in e.collect()],
    )


def edges_df(spark, pairs):
    """Small hand-written edge DataFrame from (src, dst[, weight]) tuples."""
    rows = [
        (int(p[0]), int(p[1]), "x", float(p[2]) if len(p) > 2 else 1.0)
        for p in pairs
    ]
    return spark.createDataFrame(rows, "src long, dst long, rel string, weight double")


def vertices_df(spark, vids):
    rows = [(int(v), f"v:{v}", "v") for v in vids]
    return spark.createDataFrame(rows, "vid long, name string, vtype string")
