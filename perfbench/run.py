"""Layered CDC benchmark: one workload, one fresh Spark driver, one
closed-loop client.

    python3 perfbench/run.py --workload ingest_mor --seed 1 --seconds 8 --trace 0

Run from the repository root. Every metric is printed by name with its
unit; the last line of stdout is the JSON result
``{"correct", "attempted", "failed", "metrics"}`` carrying the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The full report, and the spans of a traced run, land in
``.perfbench_out/``. Exit code 0 only when every check passed."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "synapse_etl_jobs_spark"
DRIVER_MEM = "2g"
E2E_UNITS = {"setup_s": "s", "op_cpu_ms": "ms", "op_wall_ms": "ms",
             "table_disk_mb": "MB"}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, trace: bool):
    """Fresh driver at local[<cores>] with all scratch inside ``work``."""
    from workloads import SHUFFLE_PARTITIONS

    from synapse_etl_jobs_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{_cores()}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> float:
    """Stop the driver, wait for its JVM to exit, return the JVM's peak
    resident set (VmHWM) in MB."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    peak_kb = 0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                peak_kb = int(line.split()[1])
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    return peak_kb / 1024.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}: run from a full "
              "checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from tracing import PER_LAYER, Tracer, layer_metrics, read_event_logs
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a SIGTERM unwinds like an exception: the driver JVM is stopped and
    # the work dir removed by the finally blocks below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM this run starts (spark-submit's launcher, the driver)
    # keeps its temp files in the work dir and writes no hsperfdata. It
    # compiles with C1 only: in a run this short, C2 compiles in bursts
    # through the timed phase, and how far it got set each run's speed
    # (quartile spreads 0.15-0.19 over ten seeds, 0.04-0.07 with C1).
    # Its compiler threads live as long as the JVM, so the op CPU can
    # leave them out (workloads._proc_cpu_s).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
        "-XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")

    try:
        spark = start_spark(work, bool(args.trace))
        ctx = Ctx(spark=spark, work=work, seed=args.seed,
                  seconds=args.seconds, tracer=Tracer(spark, bool(args.trace)))
        try:
            e2e = WORKLOADS[args.workload](ctx)
        finally:
            rss_mb = stop_spark(spark)
        ctx.named["driver_peak_rss_mb"] = (rss_mb, "MB", 1)
        layers, stage_scopes = None, None
        if args.trace:
            jobs, stages = read_event_logs(os.path.join(work, "eventlog"))
            stage_scopes = sorted(set().union(*(st["scopes"] for st in stages.values())))
            ops = [s for s in ctx.tracer.spans if s.name.startswith("op.")]
            layers = layer_metrics(
                ctx.tracer.spans, ctx.tracer.aliases, jobs, stages,
                timed_window=(min(s.start for s in ops), max(s.end for s in ops)),
                extra=ctx.extra)
            ctx.tracer.dump(os.path.join(
                out_dir, f"{args.workload}-s{args.seed}-spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    led = ctx.ledger
    correct = led.failed == 0
    for name, value in e2e.items():
        print(f"e2e {name} {value!r} {E2E_UNITS[name]}")
    for name, (value, unit, n) in ctx.named.items():
        print(f"metric {name} {value!r} {unit} n={n}")
    print(f"metric op_failure_ratio {led.failure_ratio!r} ratio "
          f"n={led.attempted}")
    units = dict(PER_LAYER)
    for name, value in (layers or {}).items():
        print(f"layer {name} {value!r} {units[name]}")

    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "e2e": e2e, "named": {k: v[0] for k, v in ctx.named.items()},
              "layers": layers, "stage_scopes": stage_scopes,
              "attempted": led.attempted, "ops": led.ops,
              "failed": led.failed}
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}"
                                    f"-t{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)

    if args.trace:
        metrics = {n: {"value": layers[n], "unit": units[n]} for n, _ in PER_LAYER}
    else:
        metrics = {n: {"value": v, "unit": E2E_UNITS[n]} for n, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": led.attempted,
                      "failed": led.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
