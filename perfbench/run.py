#!/usr/bin/env python3
"""Benchmark of the link-graph engine: ingest, converge and context_mix.

One workload per call, run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

prints every metric by name and unit, runs the correctness checks, and ends
with one JSON line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
same workload runs with span-tagged Spark jobs and an event log, and the
metrics are the per-layer ones (spans and a per-layer table are written to
``.perfbench_out/``).

    python3 perfbench/run.py --all --seed 1

runs every workload untraced and traced and prints the tracing overhead.
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOAD_NAMES = ("ingest", "converge", "context_mix")
END_TO_END = {  # name -> unit; every workload reports all of them
    "setup_s": "s", "pass_s": "s", "step_p50_s": "s", "peak_cached_mib": "MiB",
}


def host_heap_gib() -> int:
    """JVM heap that fits this host: a sixth of RAM, 1 to 4 GiB. The
    engine pre-touches the whole heap at start, so it must fit with room for
    the Python workers."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1, min(4, kib // (6 << 20)))


def configure_env(out_dir: str, scratch: str) -> dict:
    """Environment for the Spark JVM and its Python workers, set before
    pyspark starts. Everything Spark writes stays under ``out_dir``; the
    run's own files go to ``scratch``, the JVM's temp files to one place
    that outlives the run (the JVM does)."""
    cores = len(os.sched_getaffinity(0))
    heap = f"{host_heap_gib()}g"
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(scratch, "warehouse")
    os.environ["TMPDIR"] = tmp
    # HotSpot writes /tmp/hsperfdata_<user> whatever java.io.tmpdir says;
    # this covers spark-submit's launcher JVM, spark_extra the driver's.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Arrow UDF workers import ``engine`` by module path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"cores": cores, "heap": heap, "tmp": tmp}


def spark_extra(env: dict, event_dir: str | None) -> dict:
    extra = {
        "spark.ui.showConsoleProgress": "false",
        # The engine's own G1 + pre-touch options, with the JVM's temp
        # files kept in the run's scratch directory.
        "spark.driver.extraJavaOptions":
            f"-XX:+UseG1GC -Xms{env['heap']} -XX:+AlwaysPreTouch"
            f" -XX:-UsePerfData -Djava.io.tmpdir={env['tmp']}",
    }
    if event_dir:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return extra


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def stop_jvm() -> None:
    """Stop the JVM pyspark launched in this process and wait until it has
    exited (it exits when its stdin closes), so no process outlives the
    benchmark."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:  # no JVM was launched by this process
        return
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)


def drive(ctx, wl, seconds: float) -> None:
    """Set-up, then passes in a closed loop until at least ``wl.passes``
    passes have run and ``seconds`` have passed."""
    with ctx.tracer.span("setup"):
        wl.setup(ctx)
    t0, k = time.perf_counter(), 0
    while k < wl.passes or time.perf_counter() - t0 < seconds:
        with ctx.tracer.span("pass", index=k):
            if not wl.one_pass(ctx, k):
                ctx.tracer.spans.pop()  # nothing ran in this pass
                break
        k += 1


def end_to_end(ctx, wl, session_s: float) -> dict:
    from perfbench.workloads import median

    return {
        "setup_s": session_s + sum(ctx.op_seconds("setup")),
        "pass_s": median(ctx.op_seconds("pass")),
        "step_p50_s": median(wl.step_seconds(ctx)),
        "peak_cached_mib": ctx.peak_cached_mib,
    }


def run(workload: str, seed: int, seconds: float, traced: bool,
        sizes=None, out_dir: str = OUT) -> dict:
    """One workload in this process; returns every measurement and problem."""
    run_id = uuid.uuid4().hex[:8]
    scratch = os.path.join(out_dir, f"run-{run_id}")
    env = configure_env(out_dir, scratch)
    event_dir = os.path.join(scratch, "events") if traced else None
    if event_dir:
        os.makedirs(event_dir)
    t0 = time.perf_counter()
    from engine.session import get_spark

    from perfbench.layers import layer_metrics
    from perfbench.spans import Tracer, read_event_log
    from perfbench.workloads import WORKLOADS, Ctx, Sizes

    spark = get_spark(env["cores"], app_name=f"perfbench-{workload}",
                      extra=spark_extra(env, event_dir))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    gc0 = jvm_gc_s(spark)
    tracer = Tracer(run_id, spark.sparkContext, tag_jobs=traced)
    ctx = Ctx(spark, tracer, traced, seed, sizes or Sizes(), scratch)
    wl = WORKLOADS[workload]()
    error = None
    try:
        drive(ctx, wl, seconds)
    except Exception as exc:  # reported as a failed run, not a crash
        traceback.print_exc()
        error = repr(exc)
    gc_s = jvm_gc_s(spark) - gc0
    out = {
        "workload": workload, "seed": seed, "seconds": seconds, "traced": traced,
        "env": {"cores": env["cores"], "heap": env["heap"],
                "master": spark.sparkContext.master, "spark": spark.version},
        "attempted": max(1, ctx.attempted), "failed": len(ctx.failed_ops),
        "problems": ctx.problems, "error": error,
        "extra": ctx.extra,
        "spans": [(sp["name"], sp["parent"], sp["end"] - sp["start"])
                  for sp in tracer.spans if sp["end"] is not None],
    }
    if error is None:
        e2e = end_to_end(ctx, wl, session_s)
        out["end_to_end"] = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
        out["named"] = {"setup_s": (e2e["setup_s"], "s"), **wl.named(ctx),
                        "failed_frac": (out["failed"] / out["attempted"], "ratio"),
                        "peak_cached_mib": (ctx.peak_cached_mib, "MiB")}
    spark.stop()  # flushes and closes the event log
    if traced and error is None:
        log = read_event_log(event_dir)
        out["per_layer"] = layer_metrics(
            ctx, log, session_s, gc_s, ctx.op_seconds("pass"), out["end_to_end"]["setup_s"][0])
        stem = os.path.join(out_dir, f"{workload}-s{seed}")
        tracer.dump(stem + ".spans.jsonl")
        with open(stem + ".layers.tsv", "w") as f:
            f.write("metric\tvalue\tunit\n")
            for k, (v, u) in out["per_layer"].items():
                f.write(f"{k}\t{v:.6g}\t{u}\n")
        out["spans_file"] = stem + ".spans.jsonl"
    shutil.rmtree(scratch, ignore_errors=True)
    return out


def result_line(out: dict) -> dict:
    key = "per_layer" if out["traced"] else "end_to_end"
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in out.get(key, {}).items()}
    return {"correct": out["error"] is None and out["failed"] == 0,
            "attempted": out["attempted"], "failed": out["failed"], "metrics": metrics}


def report(out: dict) -> None:
    e = out["env"]
    print(f"env workload={out['workload']} seed={out['seed']} master={e['master']}"
          f" cores={e['cores']} heap={e['heap']} spark={e['spark']}")
    for p in out["problems"]:
        print(f"FAILED {p}")
    if out["error"]:
        print(f"ERROR {out['error']}")
    for section in ("named", "end_to_end", "per_layer"):
        for k, (v, u) in out.get(section, {}).items():
            shown = "n/a" if v is None else f"{v:.6g}"
            print(f"{section} {k} {shown} {u}")


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced, each in its own process; prints
    the tracing overhead (traced minus untraced) per workload."""
    rows, ok = [], True
    for w in WORKLOAD_NAMES:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            sys.stdout.write(p.stdout)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-4000:])
                return p.returncode
            res[trace] = json.loads(p.stdout.strip().splitlines()[-1])
            ok = ok and res[trace]["correct"]
        m0, m1 = res[0]["metrics"], res[1]["metrics"]
        for a, b in (("pass_s", "trace.pass_s"), ("setup_s", "trace.setup_s")):
            u, t = m0[a]["value"], m1[b]["value"]
            rows.append({"workload": w, "metric": a, "untraced": u, "traced": t,
                         "overhead_s": t - u, "overhead_frac": (t - u) / u if u else None})
    print("tracing overhead (traced run minus untraced run):")
    for r in rows:
        print(f"overhead {r['workload']} {r['metric']} untraced={r['untraced']:.3f}s"
              f" traced={r['traced']:.3f}s delta={r['overhead_s']:+.3f}s"
              f" ({100 * r['overhead_frac']:+.1f}%)")
    with open(os.path.join(OUT, f"overhead-s{seed}.json"), "w") as f:
        json.dump(rows, f, indent=1)
    print(f"all workloads correct: {ok}")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="every workload, both modes")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "engine")):
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    if a.all:
        return run_all(a.seed, a.seconds)
    if a.workload is None:
        ap.error("--workload or --all is required")
    try:
        out = run(a.workload, a.seed, a.seconds, bool(a.trace))
    finally:
        stop_jvm()
    with open(os.path.join(OUT, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(out, f, indent=1, default=str)
    report(out)
    print(json.dumps(result_line(out)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
