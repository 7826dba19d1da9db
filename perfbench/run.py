#!/usr/bin/env python3
"""Benchmark of record for orc_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout (the directory holding ``orc_spark/``).
Inputs are generated from ``--seed``; every operation's result is checked
after the timed phase. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run (which also measures an untraced half to report tracing overhead).
Lines before it starting with ``#`` describe the run (pinned resources,
set-up cycles, timed and check phase times, tail percentile, per-operation
latencies and pass times, failures, self-test).

Everything the run writes stays under ``.perfbench_work/`` in the checkout:
generated inputs (removed at exit), Spark local dirs, the oracle cache and
the span trace (``.perfbench_work/traces/<workload>-<seed>.json``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_CYCLES = 3

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_names() -> dict[str, str]:
    from workloads import QUERY_MIX

    names = {
        "session.start_s": "s", "session.warm_s": "s",
        "sources.orclog.parse_s": "s", "sources.orclog.lines_per_s": "1/s",
        "sources.orclog.data_row_ratio": "ratio",
        "operators.timeseries.window_s": "s", "operators.stats.agg_s": "s",
        "streaming.invocations": "count", "streaming.batch_s": "s",
        "streaming.add_batch_s": "s", "streaming.plan_s": "s",
        "streaming.list_s": "s", "streaming.backlog_files": "count",
        "streaming.generator_lag_s": "s", "streaming.freshness_p50_s": "s",
        "sources.io.orc_bytes_per_row": "B", "sources.io.orc_read_s": "s",
        "sources.io.pushdown_rows_ratio": "ratio",
        "sources.tables.load_s": "s",
        "plans.build_s": "s", "plans.exec_s": "s", "plans.collect_s": "s",
        "plans.jobs": "count", "plans.stages": "count", "plans.tasks": "count",
        "plans.task_s": "s", "plans.core_util": "ratio",
        "plans.shuffle_bytes": "B", "plans.spill_bytes": "B", "plans.gc_s": "s",
        "plans.failed_tasks": "count",
        "operators.control.pid_replay_s": "s",
        "operators.graph.cc_s": "s", "operators.graph.edges": "count",
    }
    for q in QUERY_MIX:
        names[f"query.{q}_s"] = "s"
    names["trace.overhead_s"] = "s"
    return names


def pin_environment(work: str) -> dict:
    """Resources of the run, pinned before the JVM starts and printed."""
    # task slots: one fewer than the CPUs, which leaves one for the driver
    # (Python client, JVM scheduler, JIT and GC threads). With a slot per
    # CPU those threads queued behind the tasks and pass times spread
    # further between runs of the same code.
    nproc = len(os.sched_getaffinity(0))
    cpus = max(1, nproc - 1)
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 2**20
    heap_gb = max(1, min(8, int(mem_gb // 6)))
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        # every JVM the launcher starts keeps its temp files in the checkout.
        # CompileThresholdScaling=0.1 lets the JIT reach steady state within
        # the set-up cycles: at the default thresholds the report kept
        # speeding up for ~8 passes and run-to-run spread exceeded 20 %.
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
                              " -XX:CompileThresholdScaling=0.1"),
        # the driver heap committed and touched up front, so resident
        # memory does not depend on when G1 grows or first uses the heap
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options '-Xms{heap_gb}g -XX:+AlwaysPreTouch'"
                                " pyspark-shell"),
    })
    return {
        "master": f"local[{cpus}]", "cpus": cpus, "nproc": nproc, "driver_heap": f"{heap_gb}g",
        "jit": "CompileThresholdScaling=0.1",
        "SPARK_LOCAL_DIRS": os.path.relpath(dirs["spark-local"], ROOT),
        "processes": 1, "generator_threads": 1,
        "load1": round(os.getloadavg()[0], 2),
    }


def start_session(cpus: int):
    from orc_spark import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 — the JVM is stopped below anyway
            pass
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — already gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tail(lat: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile with at least ten samples beyond
    it, and that percentile. Below 20 samples that percentile would fall
    under the median, so the maximum is reported instead."""
    s = sorted(lat)
    if len(s) < 20:
        return s[-1], 100.0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def per_layer(wl, ctx, tracer, untraced: dict, traced: dict, cycles) -> dict:
    from workloads import QUERY_MIX

    out = dict.fromkeys(per_layer_names(), 0)
    out["session.start_s"] = cycles[0][0]
    out["session.warm_s"] = statistics.median(c[1] for c in cycles)
    ops = tracer.named("op")
    if ops:
        kids = tracer.children
        build = [sum(c["dur"] for c in kids.get(o["id"], []) if c["name"] == "plans.build") for o in ops]
        coll = [c for o in ops for c in kids.get(o["id"], []) if c["name"] == "plans.collect"]
        tot = [o["spark_total"] for o in ops]
        n = len(ops)
        out["plans.build_s"] = sum(build) / n
        out["plans.collect_s"] = sum(c["dur"] for c in coll) / n
        out["plans.exec_s"] = sum(c["spark_total"]["job_s"] for c in coll) / n
        for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_bytes",
                  "spill_bytes", "failed_tasks"):
            out[f"plans.{k}"] = sum(t[k] for t in tot) / n
        job_s = sum(t["job_s"] for t in tot)
        out["plans.core_util"] = sum(t["task_s"] for t in tot) / (job_s * ctx.cpus) if job_s else 0.0
    for q in QUERY_MIX:
        lat = [o.latency for o in untraced["ops"] if o.name == q and o.error is None]
        if lat:
            out[f"query.{q}_s"] = statistics.median(lat)
    out.update(wl.layer)
    out["trace.overhead_s"] = statistics.median(traced["pass_s"]) - statistics.median(untraced["pass_s"])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run unwinds through the clean-up below like a failed one
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "orc_spark", "__init__.py")):
        print(f"no orc_spark package next to {os.path.relpath(HERE, ROOT)}/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import gen
    from tracing import RssSampler, Tracer, process_tree, running
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    resources = pin_environment(WORK)
    rss = RssSampler().start()
    with open(gen.__file__, "rb") as fh:
        gen_digest = hashlib.sha1(fh.read()).hexdigest()[:12]
    ctx = SimpleNamespace(seed=args.seed, work=run_dir, cache=os.path.join(WORK, "cache"),
              cpus=resources["cpus"], gen_digest=gen_digest,
              seconds_timed=args.seconds / 2 if args.trace else args.seconds)
    wl = WORKLOADS[args.workload](ctx)
    spark = None
    try:
        t_prep = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t_prep

        # set-up cycles: the first creates the SparkContext (JVM launch), the
        # others open a fresh session on it; each then warms the workload's
        # shapes on its warm-up input. The timed phase uses the last session.
        cycles = []
        for _ in range(SETUP_CYCLES):
            a = time.perf_counter()
            spark = start_session(ctx.cpus) if spark is None else spark.newSession()
            b = time.perf_counter()
            wl.warm(spark)
            cycles.append((b - a, time.perf_counter() - b))
        setup_s = statistics.median(s + w for s, w in cycles)

        problems: list[str] = []
        runs = []
        phases = []  # (timed phase s, check s) per timed run
        for traced in ([False, True] if args.trace else [False]):
            tracer = Tracer(traced)
            tracer.attach(spark)
            t_run = time.perf_counter()
            res = wl.run(spark, ctx.seconds_timed, tracer)
            t_check = time.perf_counter()
            problems += wl.check(spark, res["ops"])
            phases.append((t_check - t_run, time.perf_counter() - t_check))
            if not wl.selftest:
                problems.append("self-test: a perturbed result was not caught")
            runs.append((tracer, res))
        if args.trace:
            tracer = runs[1][0]
            probe_ops, probe_problems = wl.probe_layers(spark, tracer)
            runs[1][1]["ops"] += probe_ops
            problems += probe_problems
            tracer.finish()
            nest = tracer.check_nesting()
            if nest:
                problems.append(nest)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_path = os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json")
            tracer.dump(trace_path)
        peak_rss = rss.stop()

        all_ops = [o for _, r in runs for o in r["ops"]]
        failed = [o for o in all_ops if o.error]
        main_run = runs[0][1]
        lat = [o.latency for o in main_run["ops"] if o.error is None]
        if not lat:
            raise RuntimeError("no operation succeeded: " + "; ".join(
                f"{o.name}: {o.error}" for o in failed[:3]))
        tail_s, tail_p = tail(lat)
        if args.trace:
            names = per_layer_names()
            values = per_layer(wl, ctx, runs[1][0], runs[0][1], runs[1][1], cycles)
        else:
            names = END_TO_END
            values = {
                "setup_s": setup_s,
                "wall_s": statistics.median(main_run["pass_s"]),
                "op_p50_s": statistics.median(lat),
                "op_tail_s": tail_s,
                "peak_rss_mb": peak_rss,
            }
        print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
        print("# resources: " + " ".join(f"{k}={v}" for k, v in resources.items()))
        print(f"# inputs generated in {prep_s:.3f} s; set-up cycles (start_s, warm_s): "
              + ", ".join(f"({s:.3f}, {w:.3f})" for s, w in cycles)
              + "; the first launches the JVM, the others open a new session")
        print("# timed and check phases (s): " + ", ".join(f"({a:.3f}, {b:.3f})" for a, b in phases)
              + f"; {time.perf_counter() - T_START:.1f} s since start")
        print(f"# op_tail_s is p{tail_p:.1f} of {len(lat)} samples"
              + (" (the maximum: fewer than 20 samples)" if tail_p == 100.0 else "")
              + "; op_p50_s is their median")
        by_op: dict[str, list[float]] = {}
        for o in main_run["ops"]:
            if o.error is None:
                by_op.setdefault(o.name, []).append(o.latency)
        print("# op latencies (name: n, median s): " + ", ".join(
            f"{k}: {len(v)}, {statistics.median(v):.3f}" for k, v in by_op.items())
              + "; passes (s): " + ", ".join(f"{p:.3f}" for p in main_run["pass_s"]))
        print(f"# failed_ratio={len(failed)}/{len(all_ops)}={len(failed) / len(all_ops):.6f}")
        for o in failed[:5]:
            print(f"#   failed {o.name}: {o.error[:300]}")
        for p in problems:
            print(f"# problem: {p}")
        print("# self-test: perturbed results " + ("caught" if wl.selftest else "NOT caught"))
        if args.trace:
            print(f"# trace: {len(tracer.spans)} spans -> {os.path.relpath(trace_path, ROOT)}; "
                  f"tracing overhead {values['trace.overhead_s']:+.4f} s per pass "
                  "(traced minus untraced wall)")
        print(json.dumps({
            "correct": not failed and not problems,
            "attempted": len(all_ops),
            "failed": len(failed),
            "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()},
        }))
        return 0
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        rss.stop()
        started = process_tree(os.getpid()) - {os.getpid()}
        try:
            stop_jvm(spark)
            # the JVM's Python workers are reparented when it exits: wait
            # for every process this run started to be gone
            deadline = time.time() + 30
            while time.time() < deadline and any(map(running, started)):
                time.sleep(0.05)
            for pid in filter(running, started):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
            while time.time() < deadline and any(map(running, started)):
                time.sleep(0.05)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
