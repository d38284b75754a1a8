"""Per-layer metrics of a traced run, from its spans and Spark event log.

Every workload reports every metric; a layer the workload does not call
reads 0. Times are medians over calls, counts are means per call unless the
name says otherwise. Which end-to-end metric each one should move, and on
which workload, is in perfbench/README.md.
"""

from __future__ import annotations

from perfbench.spans import EventLog, Tracer
from perfbench.workloads import Ctx, median


def _calls(tracer: Tracer, name: str) -> list[dict]:
    return [s for s in tracer.spans if s["name"] == name and s["end"] is not None]


def _per_call(log: EventLog, tracer: Tracer, name: str, counter: str) -> float:
    calls = _calls(tracer, name)
    if not calls:
        return 0.0
    return sum(log.inclusive(tracer, s["id"])[counter] for s in calls) / len(calls)


def _sum(log: EventLog, tracer: Tracer, ids: list[int], counter: str) -> float:
    return sum(log.inclusive(tracer, i)[counter] for i in ids)


def layer_metrics(ctx: Ctx, log: EventLog, session_s: float, gc_s: float,
                  pass_s: list[float], setup_s: float) -> dict:
    t = ctx.tracer
    legs = ctx.extra.get("pr_legs", [])
    io = ctx.extra.get("io", [])
    pr_spans = [i for p in legs for i in p["spans"]]
    pr_iters = sum(len(p["leg1_iter_s"]) + len(p["leg2_iter_s"]) for p in legs)
    queries = _calls(t, "query.context_query")
    returned = sum(n for _, n in ctx.extra.get("rows_returned", []))

    def dur(name):
        return median([s["end"] - s["start"] for s in _calls(t, name)])

    def per_iter(counter):
        return _sum(log, t, pr_spans, counter) / pr_iters if pr_iters else 0.0

    m = {
        "session.start_s": (session_s, "s"),
        "derive.hash_check_s": (dur("derive.hash_check"), "s"),
        "derive.build_graph_s": (dur("derive.build_graph"), "s"),
        "derive.jobs": (_per_call(log, t, "derive.build_graph", "jobs"), "count"),
        "derive.shuffle_write_mib": (
            _per_call(log, t, "derive.build_graph", "shuffle_write_mib"), "MiB"),
        "derive.task_cpu_s": (_per_call(log, t, "derive.build_graph", "task_cpu_s"), "s"),
        "graph.assign_vids_s": (dur("graph.assign_vids"), "s"),
        "graph.encode_s": (dur("graph.encode"), "s"),
        "incremental.initial_state_s": (dur("incremental.initial_state"), "s"),
        "incremental.fold_s": (dur("incremental.fold"), "s"),
        "incremental.fold_jobs": (_per_call(log, t, "incremental.fold", "jobs"), "count"),
        "incremental.fold_shuffle_write_mib": (
            _per_call(log, t, "incremental.fold", "shuffle_write_mib"), "MiB"),
        "pagerank.iterations": (float(legs[-1]["iterations"]) if legs else 0.0, "count"),
        "pagerank.prep_s": (median([p["leg1_s"] - sum(p["leg1_iter_s"]) for p in legs]), "s"),
        "pagerank.iter_s_p50": (
            median([x for p in legs for x in p["leg1_iter_s"] + p["leg2_iter_s"]]), "s"),
        "pagerank.jobs_per_iter": (per_iter("jobs"), "count"),
        "pagerank.shuffle_write_mib_per_iter": (per_iter("shuffle_write_mib"), "MiB"),
        "pagerank.resume_prep_s": (
            median([p["leg2_s"] - sum(p["leg2_iter_s"]) for p in legs]), "s"),
        "io.checkpoint_mib": (median([x["mib"] for x in io]), "MiB"),
        "io.checkpoint_files": (median([x["files"] for x in io]), "count"),
        "io.checkpoint_write_task_s": (
            median([_sum(log, t, x["spans"], "output_task_s") for x in io]), "s"),
        "cc.rounds": (median(ctx.extra.get("cc_rounds", [])), "count"),
        "cc.jobs": (_per_call(log, t, "cc.connected_components", "jobs"), "count"),
        "lpa.jobs": (_per_call(log, t, "lpa.label_propagation", "jobs"), "count"),
        "query.jobs_per_query": (_per_call(log, t, "query.context_query", "jobs"), "count"),
        "query.rows_examined_per_result": (
            _sum(log, t, [s["id"] for s in queries], "records_read") / returned
            if returned else 0.0, "ratio"),
        "jvm.gc_s": (gc_s, "s"),
        "spark.tasks": (log.total["tasks"], "count"),
        "spark.scheduler_delay_s": (log.total["scheduler_delay_s"], "s"),
        "spark.failed_tasks": (log.total["failed_tasks"], "count"),
        "trace.setup_s": (setup_s, "s"),
        "trace.pass_s": (median(pass_s), "s"),
        "trace.spans": (float(len(t.spans)), "count"),
    }
    return m
