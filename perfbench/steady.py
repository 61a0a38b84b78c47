"""Steadiness check: run one workload several times, each with another seed,
and print each end-to-end metric's spread next to its bound.

    python3 perfbench/steady.py --workload serve --runs 10 --first-seed 1

Run from the repository root.  The spread is the distance between the first
and third quartiles (``statistics.quantiles(values, n=4)``) as a share of
the median.  Every metric but ``setup_s`` should stay within its bound; the
benchmark aims for a third of it.  Each run's result line is appended to
``--log`` (default ``.perfbench-out/steady-<workload>.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--log", default=None)
    args = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = args.log or os.path.join(".perfbench-out",
                                   f"steady-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    results = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable, *bench["command"][1:], "--workload",
               args.workload, "--seed", str(seed), "--seconds",
               str(bench["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              timeout=900)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append(out)
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, **out}) + "\n")
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
            flush=True)

    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"\n{args.workload}: {len(results)} runs, failed share "
          f"{sorted(shares)}, all correct: "
          f"{all(r['correct'] for r in results)}")
    print(f"{'metric':<16}{'median':>14}{'spread':>9}{'bound':>8}  verdict")
    ok = True
    for name, bound in bounds.items():
        med, sp = spread([r["metrics"][name]["value"] for r in results])
        verdict = ("n/a (set-up)" if name == "setup_s" else
                   "steady" if sp < bound / 3 else
                   "within bound" if sp <= bound else "TOO WIDE")
        ok &= name == "setup_s" or sp <= bound
        print(f"{name:<16}{med:>14.5g}{sp:>9.3f}{bound:>8.2f}  {verdict}")
    return 0 if ok and len(shares) == 1 else 1


if __name__ == "__main__":
    sys.exit(main())
