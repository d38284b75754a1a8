"""Iterative-loop policy: the one module that knows how the engine's
driver-controlled loops are planned, sized and materialized.

- :func:`iterative_conf` pins the loop planner conf (AQE off,
  shuffled-hash over sort-merge) and restores the session's on exit.
- :func:`loop_shuffle_partitions` / :func:`set_loop_partitions` size a
  loop's shuffle partition count from its own input, floored at the task
  slot count and capped at the session value.
- :func:`observed_checkpoint` materializes a round's state and observes
  its (count, xor-of-row-hashes) fingerprint in the same job — the
  convergence test of every fixpoint loop that compares whole states.
- :func:`fresh_checkpoint` materializes self-feeding state without the
  carried plan statistics (below).

``fresh_checkpoint``: per-iteration state that stays O(1) in plan-stat size.

Spark 4.1's ``DataFrame.localCheckpoint`` does more than truncate lineage:
``LogicalRDD.fromDataset`` copies the *origin plan's* statistics and
constraints onto the checkpointed leaf (SPARK-39748 family — carried so
AQE/CBO keep size hints across a checkpoint). For a one-shot checkpoint
that is a free win. For an ITERATIVE loop it is a time bomb whenever the
loop body references the state more than once:

    sizeInBytes(join) = PRODUCT of the children's sizeInBytes
    (SizeInBytesOnlyStatsPlanVisitor.visitJoin -> default), so a body with
    two state references computes   s_{k+1} ~ s_k ** 2  —  the carried
    BigInt DOUBLES ITS DIGIT COUNT EVERY ITERATION. By iteration ~22 the
    driver is single-threadedly multiplying million-digit BigIntegers
    inside Toom-Cook (measured on this host: katz_centrality hit 2,379
    digits by iteration 6 and minutes/iteration past ~20; jstack shows
    100% CPU in java.math.BigInteger.multiplyToomCook3 under
    SizeInBytesOnlyStatsPlanVisitor).

``pagerank.py`` escapes by accident: its staged plan's optimized output
fails ``LogicalRDD.buildOutputAssocForRewrite`` (the rewrite silently
degrades to None and the leaf falls back to defaultSizeInBytes — measured
52 digits after 40 iterations). Accident is not architecture, so loops
that feed a checkpoint back into themselves should materialize through
:func:`fresh_checkpoint`, which localCheckpoints and then REBUILDS the
DataFrame around the same checkpointed RDD with ``originStats``/
``originConstraints`` dropped — keeping the partitioning and ordering
metadata (exchange elimination still credits the hash partitioning) while
the leaf's stats revert to the bounded default.

Inside ``iterative_conf`` loops the lost size hint changes nothing: AQE
is off and every broadcast decision is an explicit ``broadcast()`` hint.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_LOGICAL_RDD = "org.apache.spark.sql.execution.LogicalRDD"


def plan_stat_digits(df: DataFrame) -> int:
    """Digit count of the optimized plan's sizeInBytes statistic — the
    regression probe for carried-stat blowup (bounded loops stay < ~60)."""
    return len(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def strip_origin_stats(df: DataFrame) -> DataFrame:
    """Rebuild a just-checkpointed DataFrame around the same checkpointed
    RDD minus the carried originStats/originConstraints.

    No-op (returns ``df``) when the optimized plan is not a LogicalRDD
    leaf — the caller didn't checkpoint, or a future Spark renamed the
    node; degrading to the unstripped frame is always correct, merely
    slower at high iteration counts."""
    spark = df.sparkSession
    jvm = spark._sc._jvm
    old = df._jdf.queryExecution().optimizedPlan()
    if old.getClass().getName() != _LOGICAL_RDD:
        return df
    none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
    mod = getattr(getattr(jvm.org.apache.spark.sql.execution, "LogicalRDD$"), "MODULE$")
    plan = mod.apply(
        old.output(),
        old.rdd(),
        old.outputPartitioning(),
        old.outputOrdering(),
        old.isStreaming(),
        old.stream(),
        spark._jsparkSession,
        none,
        none,
    )
    jdf = getattr(jvm.org.apache.spark.sql.classic, "Dataset").ofRows(
        spark._jsparkSession, plan
    )
    return DataFrame(jdf, spark)


def fresh_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` + :func:`strip_origin_stats` — the
    materialization every self-feeding iterative loop should use."""
    return strip_origin_stats(df.localCheckpoint(eager=True))


def observed_checkpoint(
    df: DataFrame, *cols: str
) -> tuple[DataFrame, tuple[int, int]]:
    """Eager ``localCheckpoint`` with the order-insensitive state
    fingerprint ``(count, bit_xor(xxhash64(*cols)))`` OBSERVED on the same
    job — the two scalars are the only per-round driver traffic, where a
    separate checksum aggregate would cost a second job per round.

    xor is overflow-free under ANSI mode and insensitive to row order and
    partitioning, so equal row sets give equal fingerprints however they
    were laid out; an empty frame gives ``(0, 0)``. Callers compare states
    of distinct rows, so a false "unchanged" needs a genuine 64-bit
    collision. A plain checkpoint: the result keeps its plan statistics
    (:func:`fresh_checkpoint` is the stat-stripping variant)."""
    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("h"),
    ).localCheckpoint(eager=True)
    vals = obs.get
    return out, (int(vals["n"]), int(vals["h"]))


# Target bytes per loop shuffle partition (guide §2.2: 100 MB - 1 GB per
# reduce partition).
LOOP_TARGET_PARTITION_BYTES = 128 << 20

# The session's spark.sql.shuffle.partitions as recorded by the outermost
# active iterative_conf (None outside any). The loop partition cap reads
# it, not the live conf: inside a loop the live value may already be a
# lowered loop count, and a nested sizing call must still cap against the
# deployment's choice.
_session_partitions: int | None = None


def loop_shuffle_partitions(
    spark: SparkSession, rows: int, row_bytes: int = 16
) -> int:
    """Scale-adaptive shuffle partition count for the iteration loops.

    The loops run with AQE off (``iterative_conf``), so the static count is
    binding — and the session default is sized for the whole relational
    surface (2x cores locally; O(total-input-bytes/128MB) on a cluster,
    per engine.session), not for one loop's O(E) working set. Derive the
    loop's count from ITS input instead (guide §2.2 "fewer, larger reduce
    partitions"): ceil(rows*row_bytes / 128 MiB), floored at the task
    slot count (every core gets work at any size) and capped at the
    session value (the deployment's chosen upper bound). At bench
    scale (3.45M edges, 32 cores) the floor binds — 32 partitions measured
    0.71 s vs 1.2 s per pagerank iteration against the 2x-cores default
    (interleaved A/B, tools/probe_iter.py); at cluster scale the bytes
    term dominates and grows with the data, so tasks stay ~target-sized.
    """
    cores = _executor_cores(spark)
    session_p = _session_partitions
    if session_p is None:
        session_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    by_bytes = -(-int(rows) * row_bytes // LOOP_TARGET_PARTITION_BYTES)  # ceil
    return max(1, min(max(by_bytes, cores), max(session_p, cores)))


def _executor_cores(spark: SparkSession) -> int:
    """Concurrent task slots — the loop partition floor. NOT
    ``defaultParallelism``: engine.session sets ``spark.default.parallelism``
    to 2x the core count, which is a parallelism default, not the slot
    count. ``local[N]`` is parsed directly; on a cluster the scheduler's
    ``defaultParallelism`` (total cores when ``spark.default.parallelism``
    is unset) is the available proxy — at worst a 2x-high floor there,
    where the bytes term dominates anyway."""
    master = spark.sparkContext.master
    if master.startswith("local["):
        n = master[6:].rstrip("]")
        if n != "*":
            return int(n)
        return os.cpu_count() or 2
    return spark.sparkContext.defaultParallelism


def set_loop_partitions(spark: SparkSession, rows: int, row_bytes: int = 16) -> int:
    """Apply :func:`loop_shuffle_partitions` mid-loop (for operators whose
    input size is first observed on their setup materialization). Must run
    inside ``iterative_conf``, which restores the session value on exit."""
    p = loop_shuffle_partitions(spark, rows, row_bytes)
    spark.conf.set("spark.sql.shuffle.partitions", str(p))
    return p


@contextmanager
def iterative_conf(
    spark: SparkSession,
    loop_rows: int | None = None,
    row_bytes: int = 16,
):
    """Pin query-planning conf for driver-controlled iteration loops; restore
    on exit so relational queries keep AQE. AQE is off because it re-plans
    every one of the O(iterations) materializations (measured ~5x
    per-iteration overhead at small scale, no benefit for these static
    shapes); shuffled-hash is preferred because sort-merge would re-sort
    the cached edge side every iteration.

    ``loop_rows``: when the loop's input row count is known up front, the
    loop's ``spark.sql.shuffle.partitions`` is set scale-adaptively via
    :func:`loop_shuffle_partitions` (and restored on exit). Operators whose
    size is only observed on the setup materialization call
    :func:`set_loop_partitions` instead — the restore here covers both.
    Callers count ``edges`` once to size the loop, so pass a materialized
    (cached or checkpointed) edge table: a lazy one pays a full extra
    source scan for that count."""
    global _session_partitions
    conf = spark.conf
    saved = {
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.join.preferSortMergeJoin": conf.get(
            "spark.sql.join.preferSortMergeJoin"
        ),
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
    }
    outer = _session_partitions
    if outer is None:
        _session_partitions = int(saved["spark.sql.shuffle.partitions"])
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.join.preferSortMergeJoin", "false")
    try:
        if loop_rows is not None:
            conf.set(
                "spark.sql.shuffle.partitions",
                str(loop_shuffle_partitions(spark, loop_rows, row_bytes)),
            )
        yield
    finally:
        for k, v in saved.items():
            conf.set(k, v)
        _session_partitions = outer
