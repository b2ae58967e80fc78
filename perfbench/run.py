#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload index|curate --seed N --seconds S \\
        --trace 0|1

Run from the repository root. One process, one Spark session on
``local[nproc]``. With ``--trace 0`` the last stdout line is the result with
every end-to-end metric; with ``--trace 1`` the event log is on, the layer
spans are recorded and the last line carries the per-layer metrics. The line
before it is the full report: the workload's named figures, per-op check
results and the core count.

Everything the run writes lives under ``.perfbench_run/`` in the working
tree and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_start() -> float:
    """This process's start time on the ``time.perf_counter`` clock."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rfind(")") + 2 :].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - max(age, 0.0)


def driver_memory() -> str:
    """A quarter of host memory, at most 4 GiB: the session's own default
    (48g) exceeds small hosts."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{min(4096, total_kb // 4096)}m"


def configure_env(scratch: str, cpus: int) -> None:
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # every JVM the session launches keeps its temp files in the scratch
    # directory and its perf counters out of /tmp/hsperfdata_*. It compiles
    # with C1 only: at these input sizes the C2 compiler still runs tens of
    # seconds per cycle on 4 cores, so the window measured the compiler's
    # progress rather than the program (README.md, "C1 JIT only")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p
        for p in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={tmp}",
            "-XX:+PerfDisableSharedMem",
            "-XX:TieredStopAtLevel=1",
        )
        if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    sys.path[:0] = [HERE, ROOT]


def start_spark(scratch: str, cpus: int, traced: bool):
    from grepai_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if traced:
        evdir = os.path.join(scratch, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": evdir,
            }
        )
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for every process it
    started (Python workers included) to exit."""
    import spans
    from pyspark import SparkContext

    kids = spans.descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 15
        alive = kids
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv: list[str] | None = None) -> int:
    t_process = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["index", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "grepai_spark", "pipeline.py")):
        print(
            f"perfbench: no grepai_spark package under {ROOT}; run from a "
            "checkout of the repository",
            file=sys.stderr,
        )
        return 2

    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}"
    )
    shutil.rmtree(scratch, ignore_errors=True)
    configure_env(scratch, cpus)

    import evlog
    import spans
    import workloads

    traced = bool(args.trace)
    steal_start = spans.host_steal_s()
    rss = spans.RssSampler().start()
    spark = None
    try:
        spark = start_spark(scratch, cpus, traced)
        t_session = time.perf_counter()
        tracer = spans.Tracer(spark, enabled=traced)
        if traced:
            spans.instrument(tracer)
        ctx = workloads.Ctx(
            spark=spark,
            root=scratch,
            seed=args.seed,
            seconds=args.seconds,
            tracer=tracer,
            traced=traced,
        )
        workloads.WORKLOADS[args.workload](ctx)
        t_window_end = time.perf_counter()
        steal_end = spans.host_steal_s()
        setup_s = ctx.window_start_perf - t_process
        totals = tracer.snapshot()
        stop_spark(spark)
        spark = None
        t_stopped = time.perf_counter()
        events = (
            list(evlog.read_events(os.path.join(scratch, "eventlog")))
            if traced
            else []
        )
        summary = evlog.summarize(events, since_ms=ctx.window_start_ms)
        setup_summary = evlog.summarize(events, until_ms=ctx.window_start_ms)
    finally:
        if spark is not None:
            stop_spark(spark)
        peak_rss = rss.stop()
        spans.uninstrument()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run still uses it

    ops = ctx.warm + ctx.ops
    failed = sum(not o.ok for o in ops)
    named = workloads.named_report(ctx, args.workload, setup_s, peak_rss)
    e2e = workloads.end_to_end(ctx, setup_s)
    metrics = (
        workloads.per_layer(ctx, summary, setup_summary, totals)
        if traced
        else e2e
    )
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "master": f"local[{cpus}]",
        "trace": args.trace,
        "cycles": ctx.cycles,
        "phases_s": {
            "session": t_session - t_process,
            "setup_after_session": ctx.window_start_perf - t_session,
            "window": t_window_end - ctx.window_start_perf,
            "stop": t_stopped - t_window_end,
        },
        # host vCPU time given to other guests: an annotation that shows
        # runs which fell in a throttled window of the shared host
        "host_steal_s": {
            "setup": ctx.window_start_steal - steal_start,
            "window": steal_end - ctx.window_start_steal,
        },
        "query_params": ctx.report.get("query_params"),
        "named": named,
        "end_to_end": {k: v[0] for k, v in e2e.items()},
        "ops": [
            {"kind": o.kind, "cycle": o.cycle, "wall_s": round(o.wall_s, 4),
             "cpu_s": round(o.cpu_s, 2), "steal_s": round(o.steal_s, 2),
             "ok": o.ok, **({"error": o.detail["error"]}
                            if "error" in o.detail else {})}
            for o in ops
        ],
    }
    if traced:
        # the full per-span record: event-log task metrics of the window
        # by job group, with the tracer's self wall and JIT time
        report["spans"] = {
            g: {**summary.get(g, {}), **totals.get(g, {})}
            for g in sorted(set(summary) | set(totals))
        }
    print(json.dumps(report, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
