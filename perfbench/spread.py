#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's median
and spread (inter-quartile range over median), the steadiness check the
benchmark is accepted on.

    python3 perfbench/spread.py --workload W --seeds 1-10 [--trace 0|1]
                                [--seconds S] [--out FILE]

Run from the root of a checkout. `--seconds` defaults to BENCHMARK.json's
run_seconds, the length the benchmark's runs use. Each seed is one run
of perfbench/run.py;
every run's last line and detail record are kept in FILE (JSON lines) so
a receipt can be re-read without re-running.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(runs):
    """{metric: (median, spread, n)} over the runs' metric values."""
    values = {}
    for r in runs:
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    return {k: (statistics.median(v), spread(v) if len(v) >= 2 else None,
                len(v)) for k, v in values.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    ap.add_argument("--seconds", type=float, default=run_seconds)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    out = open(args.out, "a") if args.out else None
    for s in seeds(args.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(s), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}",
                  file=sys.stderr)
            sys.exit(1)
        detail, last = json.loads(lines[-2]), json.loads(lines[-1])
        runs.append(last)
        if out:
            out.write(json.dumps({"seed": s, "result": last,
                                  "detail": detail}) + "\n")
            out.flush()
        print(f"seed {s}: correct={last['correct']} "
              f"failed={last['failed']}/{last['attempted']}", flush=True)
    for k, (med, spr, n) in summarize(runs).items():
        print(f"{args.workload} {k}: median {med:.6g} spread "
              f"{'n/a' if spr is None else f'{spr:.3f}'} (n={n})")


if __name__ == "__main__":
    main()
