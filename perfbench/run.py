"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository.  The engine package
is imported from that root and driven only through its public
functions; every input is generated from ``--seed`` under
``.perfbench_work/`` in the checkout, which the run removes again.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also
records spans, Spark job groups, the Spark event log and streaming
progress, and the metrics are the per-layer table.  A line before it
carries the host fingerprint (and, traced, the host-speed probes).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = (
    ("setup_s", "s"),
    ("run_s", "s"),
    ("op_geomean_s", "s"),
    ("secondary_geomean_s", "s"),
    ("live_mem_mb", "MB"),
)


def _configure_env(work: str, trace: bool) -> str | None:
    """Point every temp/scratch location of Spark, the JVM and Python
    at the work dir (before the JVM starts).  Returns the event-log
    dir when tracing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (spark-submit's launcher too) would otherwise write
    # /tmp/hsperfdata_*, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    conf = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
    ]
    evlog = None
    if trace:
        evlog = os.path.join(work, "eventlog")
        os.makedirs(evlog)
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={evlog}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(conf + ["pyspark-shell"])
    return evlog


def main(argv=None) -> int:
    from perfbench import host

    # CPU time counters at (nearly) process start: setup_s runs from
    # process start to the first timed op
    jiffies = host.cpu_jiffies()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "data_integration_system_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    from perfbench import layers
    from perfbench.eventlog import group_stats, read_events
    from perfbench.spans import Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fingerprint = host.fingerprint()
        evlog = _configure_env(work, bool(args.trace))
        tracer = Tracer(bool(args.trace))
        if args.trace:
            layers.install(tracer)
        ctx = workloads.Context(args.seed, args.seconds, work, tracer, jiffies)
        try:
            workloads.WORKLOADS[args.workload](ctx)
            if args.trace:
                with tracer.group("probes"):
                    fingerprint["probes"] = host.probes(ctx.spark)
        finally:
            tracer.restore()
            if ctx.spark is not None:
                app_id = ctx.spark.sparkContext.applicationId
                jvm = ctx.spark.sparkContext._gateway.proc
                ctx.spark.stop()
                # the JVM exits when its stdin closes; wait for it, so it
                # does not outlive the run (and overlap the next one)
                jvm.stdin.close()
                jvm.wait(timeout=120)
        fingerprint["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        fingerprint["cpu_steal_share"] = host.steal_share(jiffies, host.cpu_jiffies())
        ctx.mark("teardown")

        if args.trace:
            app_dir = [d for d in os.listdir(evlog) if app_id in d]
            stats = group_stats(read_events(os.path.join(evlog, app_dir[0])))
            values = layers.table(ctx, stats, ctx.streaming.batches)
            units = dict(layers.PER_LAYER)
        else:
            values = ctx.end_to_end()
            units = dict(END_TO_END)

        failed_ops = sum(1 for o in tracer.ops if not o.ok)
        failed = failed_ops + len(ctx.check_failures)
        attempted = len(tracer.ops) + ctx.checks
        print(json.dumps({"fingerprint": fingerprint, "workload": args.workload,
                          "seed": args.seed, "passes": len(ctx.pass_times),
                          "phases_s": {k: round(v, 2) for k, v in ctx.phases.items()},
                          "ops_s": {o.name: round(o.duration, 3) for o in tracer.ops},
                          "ops_steal": {o.name: round(o.steal, 3) for o in tracer.ops},
                          "extra": {k: v for k, v in ctx.extra.items() if not k.startswith("_")},
                          "wall_s": ctx.wall(),
                          "memory_mb": ctx.memory_mb(),
                          "pass_steal": [round(x, 3) for x in ctx.pass_steal],
                          "check_failures": ctx.check_failures[:20]}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # run as a script: import the benchmark and the engine from the
    # checkout root, not from this directory
    sys.path[0] = ROOT
    sys.exit(main())
