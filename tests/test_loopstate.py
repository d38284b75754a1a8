"""Loop policy (engine/algos/loopstate.py): the loop partition cap under
nested sizing, and the observed per-round state fingerprint."""

from __future__ import annotations

from pyspark.sql import functions as F

from engine.algos.loopstate import (
    iterative_conf,
    loop_shuffle_partitions,
    observed_checkpoint,
    set_loop_partitions,
)

_SP = "spark.sql.shuffle.partitions"


def test_nested_loop_partitions_cap_at_session_value(spark):
    """A sizing call inside a loop whose iterative_conf already lowered the
    live shuffle-partition count still caps against the SESSION value
    (pure conf: no Spark job runs)."""
    saved = spark.conf.get(_SP)
    spark.conf.set(_SP, "64")
    try:
        with iterative_conf(spark, loop_rows=1):
            lowered = int(spark.conf.get(_SP))
            assert lowered < 64  # the slot floor, not the session value
            assert loop_shuffle_partitions(spark, 10**12) == 64
            assert set_loop_partitions(spark, 10**12) == 64
            set_loop_partitions(spark, 1)
            with iterative_conf(spark, loop_rows=10**12):
                assert int(spark.conf.get(_SP)) == 64
            assert int(spark.conf.get(_SP)) == lowered
        assert spark.conf.get(_SP) == "64"
        # Outside any loop the live value is the session value again.
        spark.conf.set(_SP, "32")
        assert loop_shuffle_partitions(spark, 10**12) == 32
    finally:
        spark.conf.set(_SP, saved)


def _fingerprint(df, *cols):
    out, cs = observed_checkpoint(df, *cols)
    out.unpersist()
    return cs


def test_observed_checkpoint_fingerprint(spark):
    rows = [(i, (i * 7) % 11) for i in range(40)]
    a = spark.createDataFrame(rows, "vid long, label long")
    b = spark.createDataFrame(list(reversed(rows)), "vid long, label long")
    base = _fingerprint(a.repartition(1), "vid", "label")
    assert base[0] == len(rows)
    # Same row set, other partitionings and orders -> same fingerprint.
    assert _fingerprint(b.repartition(5, "label"), "vid", "label") == base
    assert _fingerprint(a.orderBy(F.desc("vid")), "vid", "label") == base
    # One changed row changes the hash, not the count.
    changed = [(0, 99)] + rows[1:]
    n, h = _fingerprint(
        spark.createDataFrame(changed, "vid long, label long"), "vid", "label"
    )
    assert n == base[0] and h != base[1]
    # The returned frame is the materialized input.
    out, _ = observed_checkpoint(b, "vid", "label")
    assert sorted(tuple(r) for r in out.collect()) == sorted(rows)
    out.unpersist()


def test_observed_checkpoint_empty(spark):
    empty = spark.createDataFrame([], "vid long, label long")
    assert _fingerprint(empty, "vid", "label") == (0, 0)
    assert _fingerprint(empty.repartition(4), "vid", "label") == (0, 0)
