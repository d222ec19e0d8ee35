#!/usr/bin/env python3
"""Interleaved A/B of the pipeline benchmark between two checkouts.

    git archive <base-rev> | tar -x -C /tmp/base      # or: git worktree add
    python3 scripts/ab_pairs.py --base /tmp/base --change . \\
        --workload curate --seeds 801-810

For every seed, runs ``perfbench/run.py --workload W --seed S --seconds 1
--trace 0`` once in each checkout (a fresh process each, so every run times
a cold operation), alternating which side runs first from one seed to the
next so that drift in the host's speed falls on both sides alike. The
1-minute load average is read just before each run starts.

Prints one line per run. A pair is valid only when both of its runs exited
0 and reported ``correct``; invalid pairs are listed and left out of
everything after. Then, per side and per end-to-end metric of
``BENCHMARK.json``: median, Q1, Q3 and (Q3-Q1)/median over the valid
pairs; then, per metric, the change's wins and the paired ratios (> 1 means
the change is better, in the metric's own direction). The last line is a
JSON object with every run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from statistics import median, quantiles

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# A cold curate or checkpoint_days run takes about a minute on 4 cores.
RUN_TIMEOUT_S = 900


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _run(checkout: str, workload: str, seed: int) -> dict:
    """One cold benchmark run; its JSON result plus wall time and load1."""
    load1 = os.getloadavg()[0]
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=RUN_TIMEOUT_S,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(
            f"{checkout}: seed {seed} printed no JSON result (exit {proc.returncode})"
        ) from None
    return {
        "seed": seed,
        "load1": load1,
        "run_s": wall,
        "exit": proc.returncode,
        "ok": proc.returncode == 0 and res["correct"] is True,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: m["value"] for k, m in res["metrics"].items()},
    }


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--base", required=True, help="checkout of the parent")
    ap.add_argument("--change", default=REPO, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 801-810 or 1,5,9")
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    sides = {"base": os.path.abspath(args.base),
             "change": os.path.abspath(args.change)}
    runs: dict[str, list[dict]] = {"base": [], "change": []}

    print("seed side   order load1  run_s exit  failed  docs_per_s")
    for i, seed in enumerate(_seeds(args.seeds)):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for pos, side in enumerate(order):
            r = _run(sides[side], args.workload, seed)
            r["first"] = pos == 0
            runs[side].append(r)
            print(f"{seed:4d} {side:6s} {pos + 1:5d} {r['load1']:5.2f} "
                  f"{r['run_s']:6.1f} {r['exit']:4d} "
                  f"{r['failed']:3d}/{r['attempted']:<3d} "
                  f"{r['metrics'].get('docs_per_s', float('nan')):.6g}",
                  flush=True)

    pairs = list(zip(runs["base"], runs["change"]))
    invalid = [b["seed"] for b, c in pairs if not (b["ok"] and c["ok"])]
    valid = [(b, c) for b, c in pairs if b["ok"] and c["ok"]]
    print(f"\nvalid pairs {len(valid)}/{len(pairs)}"
          + (f"; invalid (a run failed or was not correct): seeds "
             + " ".join(map(str, invalid)) if invalid else ""))

    print("\nmetric                      side    median        Q1        Q3  IQR/median")
    for name in better:
        for k, side in enumerate(("base", "change")):
            xs = [p[k]["metrics"][name] for p in valid if name in p[k]["metrics"]]
            if not xs:
                continue
            q1, med, q3 = _quartiles(xs)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{name:27s} {side:6s} {med:9.4g} {q1:9.4g} {q3:9.4g} {spread:10.3f}")

    print()
    summary: dict[str, dict] = {}
    for name, direction in better.items():
        sign = 1 if direction == "higher" else -1
        ratios = [(c["metrics"][name] / b["metrics"][name]) ** sign
                  for b, c in valid
                  if b["metrics"].get(name) and c["metrics"].get(name)]
        wins = sum(r > 1 for r in ratios)
        summary[name] = {"wins": wins, "pairs": len(ratios), "ratios": ratios}
        print(f"{name}: change wins {wins}/{len(ratios)} pairs; paired ratios "
              + " ".join(f"{r:.3f}" for r in ratios)
              + (f"; median {median(ratios):.3f}" if ratios else ""))
    loads = [r["load1"] for side in runs.values() for r in side]
    print(f"load1 {min(loads):.2f}-{max(loads):.2f}; failed ops base "
          f"{sum(r['failed'] for r in runs['base'])}, change "
          f"{sum(r['failed'] for r in runs['change'])}")
    print(json.dumps({"workload": args.workload, "invalid_seeds": invalid,
                      "metrics": summary, "runs": runs}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
