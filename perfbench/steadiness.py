#!/usr/bin/env python3
"""Run one workload once per seed and report each metric's run-to-run
spread: the distance between the first and third quartile of its values
as a share of their median.

    python3 perfbench/steadiness.py --workload polite_drip --seeds 1-10 --seconds 1

Runs are sequential (each run uses every core). The table goes to stdout,
the per-run values to ``perfbench/out/steadiness-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import stats  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args(argv)

    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        rec = json.loads(lines[-1]) if lines else None
        runs.append({"seed": seed, "exit": proc.returncode,
                     "wall_s": time.perf_counter() - t0, "record": rec})
        print(f"seed {seed}: exit {proc.returncode}, {runs[-1]['wall_s']:.1f} s",
              file=sys.stderr, flush=True)

    ok = [r for r in runs if r["record"] and r["record"]["correct"]]
    summary = {}
    if len(ok) >= 2:
        for name in ok[0]["record"]["metrics"]:
            vals = [r["record"]["metrics"][name]["value"] for r in ok]
            q1, med, q3 = stats.quantiles(vals)
            summary[name] = {"median": med, "q1": q1, "q3": q3,
                             "spread": stats.spread(vals)}
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"steadiness-{args.workload}.json"), "w") as f:
        json.dump({"args": vars(args), "runs": runs, "summary": summary}, f, indent=1)

    print(f"{args.workload}: {len(ok)}/{len(runs)} runs correct, "
          f"mean run wall {sum(r['wall_s'] for r in runs) / len(runs):.1f} s")
    for name, s in summary.items():
        print(f"  {name:24s} median {s['median']:.6g}  q1 {s['q1']:.6g}  "
              f"q3 {s['q3']:.6g}  spread {s['spread']:.3f}")
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())
