"""Repeat a workload over seeds and report each end-to-end metric's
median and quartile spread (IQR over median), the figure the bounds in
BENCHMARK.json are held to.

    python3 perfbench/spread.py --workload ingest_mor --seeds 1-10
    python3 perfbench/spread.py --workload serve_mor --seeds 1-3 --overhead

``--overhead`` also makes a traced run per seed and reports tracing
overhead as traced minus untraced, per metric, from the full reports in
``.perfbench_out/``. Runs are sequential: one driver at a time."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else {}
    print(f"{workload} seed={seed} trace={trace} exit={out.returncode} "
          f"wall={wall:.1f}s correct={res.get('correct')} "
          f"failed={res.get('failed')}/{res.get('attempted')}", flush=True)
    if out.returncode:
        sys.stderr.write(out.stderr[-3000:])
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{workload}-s{seed}-t{trace}.json")) as f:
        return json.load(f)


def spread(values: "list[float]") -> "tuple[float, float]":
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a-b range")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lo, hi = map(int, args.seeds.split("-"))
    untraced, traced = [], []
    for seed in range(lo, hi + 1):
        untraced.append(run(args.workload, seed, bench["run_seconds"], 0))
        if args.overhead:
            traced.append(run(args.workload, seed, bench["run_seconds"], 1))
    for m in bench["end_to_end"]:
        vals = [r["e2e"][m["name"]] for r in untraced]
        med, sp = spread(vals) if len(vals) > 1 else (vals[0], 0.0)
        line = (f"{m['name']:22s} median={med:.4g} {m['unit']} "
                f"iqr/median={sp:.3f} bound={m['bound']} "
                f"{'OK' if sp < m['bound'] / 3 else 'WIDE'}")
        if traced:
            tmed = statistics.median(r["e2e"][m["name"]] for r in traced)
            line += f" traced_median={tmed:.4g} overhead={tmed - med:+.4g}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
