#!/usr/bin/env python3
"""Print every end-to-end and per-layer metric, by name with its unit and
better direction, for every workload in BENCHMARK.json: one untraced and
one traced run of each, all with the same seed.

    python3 perfbench/report.py [--seed N] [--seconds S]   (from the checkout root)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    args = ap.parse_args(argv)

    names = [w["name"] for w in spec["workloads"]]
    results = {}
    for name in names:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                   "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{name} trace {trace} failed (exit {proc.returncode}):\n"
                      f"{proc.stderr[-3000:]}", file=sys.stderr)
                return 1
            results[name, trace] = json.loads(lines[-1])
            print(f"ran {name} trace {trace}", file=sys.stderr, flush=True)

    width = max(14, *(len(n) + 1 for n in names))
    for section, trace in (("end_to_end", 0), ("per_layer", 1)):
        print(f"\n{section} (seed {args.seed}, {args.seconds:g} s)")
        print(f"{'metric':34s} {'unit':6s} {'better':7s}"
              + "".join(f"{n:>{width}s}" for n in names))
        for m in spec[section]:
            vals = "".join(
                f"{results[n, trace]['metrics'][m['name']]['value']:>{width}.6g}"
                for n in names
            )
            print(f"{m['name']:34s} {m['unit']:6s} {m['better']:7s}{vals}")
    print()
    for (name, trace), r in results.items():
        print(f"{name} trace {trace}: correct {r['correct']}, "
              f"{r['attempted']} attempted, {r['failed']} failed")
    return 0 if all(r["correct"] for r in results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
