#!/usr/bin/env python3
"""sparklog benchmark: one workload per invocation.

    python3 perfbench/run.py --workload config_pipeline --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A JSON line on standard error records the host load,
the CPU time and any failure text, and with ``--trace 1`` every span.
All files go under ``perfbench/.work/`` and are removed at exit. See
NOTES.md.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4

END_TO_END = {"setup_s": "s", "msgs_per_s": "msgs/s", "op_s": "s"}
#: span names whose self time the traced run reports
SPANS = ("setup.import", "setup.session", "setup.input", "setup.warmup",
         "op", "config.load", "parsers.build", "plans.build",
         "queries.build", "exec.write", "exec.count", "stats", "verify")
PER_LAYER = {
    "setup.import_s": "s", "setup.session_s": "s", "setup.input_s": "s",
    "setup.warmup_s": "s", "cold_s": "s",
    "config.load_s": "s", "parsers.build_s": "s", "plans.build_s": "s",
    "plans.calls": "count",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.plan_kb": "KiB",
    "exec.write_s": "s", "exec.count_s": "s", "exec.counts": "count",
    "exec.jobs": "count", "exec.tasks": "count",
    "task.cpu_s": "s", "task.run_s": "s", "task.gc_s": "s",
    "task.cpu_util": "ratio",
    "shuffle.read_mb": "MiB", "shuffle.write_mb": "MiB", "spill.mb": "MiB",
    "arrow.bytes_to_py": "bytes", "arrow.bytes_from_py": "bytes",
    "mem.jvm_heap_peak_mb": "MiB", "mem.peak_rss_mb": "MiB",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
    "host.load1_start": "load", "host.load1_end": "load",
    "host.steal_s": "s",
    "proc.cpu_s": "s", "window_s": "s",
    "failed_ratio": "ratio", "tracing.overhead_s": "s",
    "unattributed_s": "s", "run.wall_s": "s",
    **{f"self.{s}_s": "s" for s in SPANS},
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use tiny sizes)")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one output before verification "
                         "(checks that verification fails)")
    return ap.parse_args(argv)


def setup_env(work: str) -> None:
    """Keep every file Spark, Python and the engine write under
    ``work``, and let Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["RSYSLOG_SPARK_SCAN_CACHE"] = os.path.join(work, "scan")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def session(work: str):
    from rsyslog_spark import get_spark

    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def install_wrappers(tracer, captured: list) -> None:
    """Per-layer spans, each under the name its caller looks up."""
    import rsyslog_spark.config.runtime as runtime
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from rsyslog_spark.plans.ruleset import RulesetEngine

    tracer.patch(runtime, "load_config", "config.load")
    tracer.patch(runtime, "parse_syslog", "parsers.build")
    tracer.patch(RulesetEngine, "run", "plans.build")
    # classic DataFrame.count overrides the base class's: wrap it there
    tracer.patch(DataFrame, "count", "exec.count")

    def keep_frame(args, _result):
        captured.append((tracer.iteration, args[0]._df))

    for meth in ("text", "parquet", "json", "csv", "orc", "save"):
        tracer.patch(DataFrameWriter, meth, "exec.write", after=keep_frame)


def run(args, work: str) -> tuple[dict, dict]:
    from spans import Tracer

    tracer = Tracer(bool(args.trace))
    with tracer.span("setup.import"):
        import pyspark  # noqa: F401
        import rsyslog_spark.config.runtime  # noqa: F401

        import __spark_entry__  # noqa: F401
        import sparkstats as ss
        from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](work, args.seed, args.scale)
    with tracer.span("setup.session"):
        spark = session(work)
    try:
        return measure(args, work, tracer, ss, wl, spark)
    finally:
        stop(spark)


def stop(spark) -> None:
    """Stop the session and wait for the Spark JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def measure(args, work, tracer, ss, wl, spark) -> tuple[dict, dict]:
    sc = spark.sparkContext
    inputs = []
    for _ in range(3):
        with tracer.span("setup.input"):
            wl.prepare()
        inputs.append(tracer.spans[-1].dur)
    with tracer.span("setup.warmup"):
        spark.range(0, 100_000, 1, CORES).selectExpr("sum(id)").collect()
        cold = wl.warm_up(spark)
    setup = {s + "_s": tracer.total(s) for s in
             ("setup.import", "setup.session", "setup.warmup")}
    setup["setup.input_s"] = statistics.median(inputs)
    captured: list = []
    if tracer.enabled:
        install_wrappers(tracer, captured)

    jobs0 = ss.job_ids(sc)
    stage0 = ss.max_stage_id(sc)
    jpid = ss.jvm_pid(sc)
    c = {"host.load1_start": ss.load1()}
    cpu0 = ss.proc_cpu_s(jpid) + time.process_time()
    gc0, jit0 = ss.jvm_gc_jit_s(sc)
    steal0 = ss.steal_s()
    walls: list[float] = []
    errors: list[str] = []
    failed: set[int] = set()
    t_window = time.perf_counter()
    for i in range(wl.n_ops(args.seconds)):
        # a slow host gets fewer operations, never a run past its budget
        if i >= wl.min_ops and i % wl.group == 0 \
                and time.perf_counter() - t_window > 2 * args.seconds:
            break
        tracer.iteration = i
        with tracer.span("op"):
            t = time.perf_counter()
            try:
                wl.run_op(spark, i, tracer)
            except Exception:   # one failed operation must not end the run
                failed.add(i)
                errors.append(f"op {i}: {traceback.format_exc(limit=3)}")
            walls.append(time.perf_counter() - t)
    c["window_s"] = time.perf_counter() - t_window
    tracer.iteration = None
    tracer.restore()
    c["proc.cpu_s"] = ss.proc_cpu_s(jpid) + time.process_time() - cpu0
    c["host.load1_end"] = ss.load1()
    c["host.steal_s"] = ss.steal_s() - steal0
    gc1, jit1 = ss.jvm_gc_jit_s(sc)
    c["jvm.gc_s"], c["jvm.jit_s"] = gc1 - gc0, jit1 - jit0

    with tracer.span("stats"):
        c.update(ss.stage_totals(sc, stage0))
        c["exec.jobs"] = len(ss.job_ids(sc) - jobs0)
        c["mem.peak_rss_mb"] = ss.peak_rss_mb(jpid)
        c["mem.jvm_heap_peak_mb"] = ss.jvm_heap_peak_mb(sc)
        if tracer.enabled:
            c.update(plan_counters(ss, *wl.plan_frames(captured)))
            c["queries.build_jobs"] = wl.build_jobs

    if args.corrupt:
        wl.corrupt(0)
    with tracer.span("verify"):
        for i in range(len(walls)):
            if i in failed:
                continue
            errs = wl.verify(i)
            if errs:
                failed.add(i)
                errors.extend(errs)

    e2e = {"setup_s": sum(setup.values()), **wl.end_to_end(walls)}
    c["cold_s"] = e2e.pop("cold_s", cold)
    c["failed_ratio"] = len(failed) / len(walls)
    if tracer.enabled:
        metrics = per_layer(tracer, {**setup, **c})
    else:
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    info = {"workload": args.workload, "seed": args.seed,
            "attempted": len(walls), "failed": len(failed), **c,
            "op_walls_s": walls, "errors": errors}
    if tracer.enabled:
        info["spans"] = tracer.records()
    result = {"correct": not failed, "attempted": len(walls),
              "failed": len(failed),
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    return result, info


def plan_counters(ss, frames, executed: bool) -> dict:
    """Catalyst phases, plan size and Python-boundary bytes summed over
    ``frames``; ``executed`` says whether their own QueryExecution ran."""
    out = dict.fromkeys(("catalyst.analysis_ms", "catalyst.optimization_ms",
                         "catalyst.planning_ms", "catalyst.plan_kb",
                         "arrow.bytes_to_py", "arrow.bytes_from_py"), 0)
    for df in frames:
        for k, v in ss.catalyst_phases(df._jdf, not executed).items():
            out["catalyst." + k] += v
        if executed:
            sent, recv = ss.python_bytes(df._jdf)
            out["arrow.bytes_to_py"] += sent
            out["arrow.bytes_from_py"] += recv
    return out


def per_layer(tracer, c: dict) -> dict:
    """Every per-layer metric: the counters ``c`` plus span totals."""
    tracer.overhead_s += span_cost() * tracer.wrapped_calls
    wall = time.perf_counter() - tracer.t0
    selfs = tracer.self_times()
    v = {
        **c,
        "config.load_s": tracer.total("config.load"),
        "parsers.build_s": tracer.total("parsers.build"),
        "plans.build_s": tracer.total("plans.build"),
        "plans.calls": len(tracer.named("plans.build")),
        "queries.build_s": tracer.total("queries.build"),
        "exec.write_s": tracer.total("exec.write"),
        "exec.count_s": tracer.total("exec.count"),
        "exec.counts": len(tracer.named("exec.count")),
        "task.cpu_util": c["task.cpu_s"] / (c["window_s"] * CORES),
        "tracing.overhead_s": tracer.overhead_s,
        "unattributed_s": tracer.unattributed(wall),
        "run.wall_s": wall,
        **{f"self.{s}_s": selfs.get(s, 0.0) for s in SPANS},
    }
    return {k: (v[k], u) for k, u in PER_LAYER.items()}


def span_cost(n: int = 2000) -> float:
    """Seconds one wrapper span costs, measured on empty spans."""
    from spans import Tracer

    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rsyslog_spark",
                                       "__init__.py")):
        print(f"perfbench: no sparklog engine under {ROOT} "
              "(run from the root of a checkout)", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        setup_env(work)
        result, info = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
