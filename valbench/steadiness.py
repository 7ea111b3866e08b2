"""Run the benchmark on several seeds and summarise each end-to-end metric.

Usage (from the root of a checkout)::

    python3 valbench/steadiness.py --label "set 1" --seeds 1-10 >> valbench/STEADINESS.md

Runs every workload of ``BENCHMARK.json`` untraced once per seed, one run at
a time, and prints a markdown table per workload: the median and quartiles
(``statistics.quantiles(values, n=4)``) of each metric, the spread
``(q3 - q1) / median`` and the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--label", required=True)
    ap.add_argument("--seeds", type=_seeds, default=_seeds("1-10"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"\n### {args.label}\n")
    print(f"Seeds {args.seeds[0]}–{args.seeds[-1]}, "
          f"`--seconds {bench['run_seconds']} --trace 0`.\n")
    for w in (w["name"] for w in bench["workloads"]):
        values: dict[str, list[float]] = {}
        walls, ops = [], []
        for seed in args.seeds:
            t0 = time.monotonic()
            proc = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            walls.append(time.monotonic() - t0)
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                return 1
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            ops.append(res["attempted"])
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        print(f"**{w}** — ops per run {min(ops)}–{max(ops)}, run wall "
              f"{min(walls):.0f}–{max(walls):.0f} s\n")
        print("| metric | median | q1 | q3 | spread | bound |")
        print("|---|---|---|---|---|---|")
        for name, vals in sorted(values.items()):
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            print(f"| `{name}` | {med:.6g} | {q1:.6g} | {q3:.6g} | "
                  f"{(q3 - q1) / med:.4f} | {bounds[name]} |")
        print()
        sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
