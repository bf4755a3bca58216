"""Run one workload over several seeds and report each metric's median and
run-to-run spread; with ``--traced`` also run each seed traced and report
the traced end-to-end medians beside the untraced ones (tracing overhead).

    python3 perfbench/spread.py --workload query_mix --seeds 1 2 3 4 5 [--traced]

Spread is (Q3 - Q1) / median over the seeds, the figure each end-to-end
metric's ``bound`` in BENCHMARK.json is held to. Runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from stats import median, quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=False,
    )
    if proc.returncode != 0:
        raise SystemExit(f"seed {seed} trace {trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def traced_e2e(workload: str, seed: int) -> dict[str, float]:
    """The end-to-end metrics a traced run wrote beside its spans."""
    path = os.path.join(ROOT, ".perfbench_out", f"e2e-{workload}-seed{seed}.json")
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for seed in args.seeds:
        r = run_once(args.workload, seed, args.seconds, 0)
        line = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} {line}",
              flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        if args.traced:
            run_once(args.workload, seed, args.seconds, 1)
            for k, v in traced_e2e(args.workload, seed).items():
                traced.setdefault(k, []).append(v)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print(f"{'metric':12s} {'median':>10s} {'spread':>8s} {'bound':>6s}"
          + (f" {'traced':>10s} {'overhead':>9s}" if args.traced else ""))
    for k, vs in values.items():
        med = median(vs)
        row = f"{k:12s} {med:10.4f} {quartile_spread(vs):8.3f} {bounds[k]:6.2f}"
        if args.traced and k in traced:
            tmed = median(traced[k])
            row += f" {tmed:10.4f} {tmed / med - 1:+9.1%}"
        print(row)


if __name__ == "__main__":
    main()
