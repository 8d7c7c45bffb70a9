"""Steadiness report for one workload: run it n times, one seed each, and
print every metric's median, quartiles and interquartile range (IQR) as
a share of the median, next to the bound BENCHMARK.json gives it.

    python3 perfbench/steady.py --workload wand_lookup --runs 10

Run from the root of the checkout. A metric is marked "ok" when its
spread is below a third of its bound. The runs' result lines are kept
in .perfbench_out/steady-<workload>-trace<0|1>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spread(values: list) -> tuple:
    """-> (median, q1, q3, IQR / median) as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=spec["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    log = ROOT / ".perfbench_out" / f"steady-{args.workload}-trace{args.trace}.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    results = []
    with open(log, "a") as out:
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            res = json.loads(lines[-1])
            out.write(json.dumps({"seed": seed, **res}) + "\n")
            out.flush()
            results.append(res)
            print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)

    print(f"\n{args.workload}: {len(results)} runs of {args.seconds} s")
    print(f"{'metric':34} {'unit':10} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'iqr/med':>8} {'bound':>6}")
    for name, first in results[0]["metrics"].items():
        values = [r["metrics"][name]["value"] for r in results]
        med, q1, q3, rel = spread(values)
        bound = bounds.get(name)
        verdict = "" if bound is None else ("ok" if rel < bound / 3 else "WIDE")
        print(f"{name:34} {first['unit']:10} {med:12.5g} {q1:12.5g} {q3:12.5g} "
              f"{rel:8.4f} {bound if bound is not None else '':>6} {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
